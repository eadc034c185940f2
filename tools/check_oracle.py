"""Driver-simulator: run __spark_entry__ exactly as the round driver does.

1. smoke: entry(spark) must return a DataFrame with ≥0 rows, stable schema.
2. for each queries()[name]: run the Spark plan at SF_DIR and the
   oracle_sql()[name] in DuckDB over the same parquet views; compare
   row count + column names + order-insensitive value hash (columns sorted
   by name, rows sorted, values stringified — mirrors the driver contract).

Usage: python tools/check_oracle.py [--json OUT.json] [sf_dir] [query_name ...]

--json writes the per-query verdicts in the driver's CORRECTNESS_r*
format (rows_match / schema_match / hash_match / spark_rows /
oracle_rows / err; the rows-only sketches in ``ROWS_ONLY`` get
hash_match: null) so a full-suite run can be committed as an in-repo
evidence artifact. Any other query with no oracle is a failure.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from decimal import Decimal

import duckdb

sys.path.insert(0, ".")

# the tables the oracles read
TABLES = ("documents", "events")


def _norm(v):
    # NULL gets a sentinel no real value can produce, so a Spark NULL vs
    # DuckDB empty-string divergence fails locally instead of only in the
    # external driver (stricter-than-driver is always safe: strict match
    # implies match under any coarser normalization).
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return f"{v:.10g}"
    if isinstance(v, Decimal):
        return f"{float(v):.10g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in canon:
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def _scan(path: str) -> str:
    """DuckDB scan of one Parquet table: a single file, or a directory
    of part files read as Spark reads it (partition directories
    recursed, names starting with ``_`` or ``.`` skipped)."""
    if not os.path.isdir(path):
        return f"read_parquet('{path}')"
    hidden = ("_", ".")
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(hidden)]
        files += [os.path.join(root, f) for f in names
                  if not f.startswith(hidden)]
    return f"read_parquet({sorted(files)!r}, hive_partitioning = true)"


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if args and args[0] == "--json":
        json_out = args[1]
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    results: dict[str, dict] = {}

    import __spark_entry__ as entrymod
    from kg_covid_19_spark.session import get_spark

    spark = get_spark(app_name="check_oracle")

    t0 = time.time()
    flagship = entrymod.entry(spark)
    n = flagship.count()
    print(f"entry(): {n} rows, schema={[f.name for f in flagship.schema.fields]} "
          f"({time.time()-t0:.1f}s)")
    assert n >= 0

    con = duckdb.connect()
    # in-memory DuckDB has no spill location by default, so decade-up
    # oracle runs (sf10 span/containment families) die on OOM instead
    # of going out-of-core; a temp directory restores grace
    con.execute("SET temp_directory='/tmp/duckdb_oracle_spill'")
    con.execute("SET max_temp_directory_size='120GiB'")
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {_scan(path)}")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    fails = []
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        try:
            t0 = time.time()
            df = fn(spark, sf_dir)
            cols = [f.name for f in df.schema.fields]
            rows = [tuple(r) for r in df.collect()]
            spark_t = time.time() - t0
        except Exception as exc:
            print(f"  {name}: SPARK ERROR {exc}")
            fails.append(name)
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": str(exc)[:300],
            }
            continue
        if name in entrymod.ROWS_ONLY:
            print(f"  {name}: {len(rows)} rows (rows-only, no oracle) "
                  f"[{spark_t:.1f}s]")
            results[name] = {
                "rows_match": True, "schema_match": True,
                "hash_match": None, "spark_rows": len(rows),
                "oracle_rows": None, "err": None,
                "spark_s": round(spark_t, 2), "duck_s": None,
            }
            continue
        if name not in oracles:
            print(f"  {name}: NO ORACLE")
            fails.append(name)
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(rows),
                "oracle_rows": None, "err": "no oracle",
            }
            continue
        t0 = time.time()
        res = con.execute(oracles[name])
        ocols = [d[0] for d in res.description]
        # Fetch through Arrow, not fetchall(): the round driver fetches the
        # oracle result via Arrow/pandas, where DuckDB types with no Arrow
        # lane (HUGEINT = sum(BIGINT), int128) degrade to double and hash
        # differently from Spark's int64. A native fetchall() returns exact
        # Python ints and would hide exactly that class of divergence.
        tbl = res.arrow()
        for field in tbl.schema:
            ft = str(field.type)
            if ft.startswith("decimal") and "decimal" not in name:
                print(f"      WARN {name}.{field.name}: oracle emits {ft} — "
                      f"cast to BIGINT/DOUBLE for a driver-stable hash")
        # Positional rebuild (not to_pylist() dicts): a dict keyed by column
        # name would silently collapse duplicate column names and compare
        # against corrupted rows; columns-wise zip preserves positions and
        # an explicit assert fails loudly if an oracle ever emits dupes.
        assert len(set(ocols)) == len(ocols), f"{name}: duplicate oracle columns {ocols}"
        orows = list(zip(*(c.to_pylist() for c in tbl.columns))) if ocols else []
        duck_t = time.time() - t0
        ok_count = len(rows) == len(orows)
        ok_schema = sorted(cols) == sorted(ocols)
        ok_hash = value_hash(cols, rows) == value_hash(ocols, orows)
        status = "OK" if (ok_count and ok_schema and ok_hash) else "FAIL"
        results[name] = {
            "rows_match": ok_count, "schema_match": ok_schema,
            "hash_match": ok_hash, "spark_rows": len(rows),
            "oracle_rows": len(orows), "err": None,
            "spark_s": round(spark_t, 2), "duck_s": round(duck_t, 2),
        }
        print(f"  {name}: {status} spark={len(rows)} duck={len(orows)} "
              f"schema={'OK' if ok_schema else f'{cols} vs {ocols}'} "
              f"hash={'OK' if ok_hash else 'MISMATCH'} "
              f"[spark {spark_t:.1f}s, duck {duck_t:.2f}s]")
        if status == "FAIL":
            fails.append(name)
            if not ok_hash and ok_count and rows:
                o_order = sorted(range(len(ocols)), key=lambda i: ocols[i])
                s_order = sorted(range(len(cols)), key=lambda i: cols[i])
                sset = sorted("|".join(_norm(r[i]) for i in s_order) for r in rows)
                oset = sorted("|".join(_norm(r[i]) for i in o_order) for r in orows)
                diffs = [(a, b) for a, b in zip(sset, oset) if a != b][:3]
                for a, b in diffs:
                    print(f"      spark: {a}\n      duck : {b}")
    spark.stop()
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(results),
                    "n_green": sum(
                        1 for r in results.values()
                        if r["rows_match"] and r["schema_match"]
                        and r["hash_match"] is not False
                    ),
                    "queries": results,
                },
                fh,
                indent=1,
            )
        print(f"wrote {json_out}")
    if fails:
        print("FAILED:", fails)
        return 1
    print("all queries match oracle")
    return 0


if __name__ == "__main__":
    sys.exit(main())

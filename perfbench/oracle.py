"""Correctness gate: the package's own DuckDB oracles over the generated
documents.

Each answer is reduced to a fingerprint, its row count plus an
order-insensitive hash of its rows with columns ordered by name, and
compared with the fingerprint of the matching ``KG_ORACLES`` /
``MERGED_ORACLES`` / ``TRIPLES_ORACLES`` SQL (or the node and edge counts
of their pipeline CTEs) run over a DuckDB view of exactly the part files
the answer should include. Both sides are hashed in the same process.
All oracle work runs outside the timed regions.
"""

from __future__ import annotations

import decimal
import operator
import os
import re

import duckdb

from kg_covid_19_spark.dictionaries import kg_cte_sql, merged_cte_sql
from kg_covid_19_spark.operators.triples import TRIPLES_ORACLES
from kg_covid_19_spark.plans.merged import MERGED_ORACLES
from kg_covid_19_spark.plans.queries import KG_ORACLES

_MASK = (1 << 64) - 1

COUNTS_SQL = f"""
WITH {kg_cte_sql()}
SELECT (SELECT count(*) FROM nodes) AS nodes, (SELECT count(*) FROM edges) AS edges
"""
MERGED_COUNTS_SQL = f"""
WITH {merged_cte_sql()}
SELECT (SELECT count(*) FROM merged_nodes) AS nodes,
       (SELECT count(*) FROM merged_edges) AS edges
"""


def _norm(v):
    if isinstance(v, float):
        return f"{v:.10g}"
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.10g}"
    return v


def fingerprint(cols: list[str], rows: list) -> tuple[int, int]:
    """(row count, order-insensitive hash of the rows)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    pick = operator.itemgetter(*order) if len(order) > 1 else (
        lambda r, i=order[0]: (r[i],)
    )
    inexact = rows and any(
        isinstance(v, (float, decimal.Decimal)) for v in rows[0]
    )
    h = 0
    for r in rows:
        t = pick(r)
        if inexact:
            t = tuple(map(_norm, t))
        # hash the repr: tuple hashing maps -1 and -2 to the same value
        h = (h + hash(repr(t))) & _MASK
    return len(rows), h


def _materialized(sql: str) -> str:
    """Mark every non-recursive CTE ``MATERIALIZED``. The oracles reference
    the shared pipeline CTE many times; materializing evaluates it once per
    query instead of once per reference. Results are unchanged."""
    if "RECURSIVE" in sql:
        return sql
    return re.sub(r"\b(\w+) AS \(\n", r"\1 AS MATERIALIZED (\n", sql)


ORACLE_SQL = {**KG_ORACLES, **MERGED_ORACLES, **TRIPLES_ORACLES}


class OracleGate:
    """DuckDB over one snapshot of the generated documents at a time."""

    def __init__(self, work_dir: str):
        self.con = duckdb.connect()
        spill = os.path.join(work_dir, "duckdb")
        os.makedirs(spill, exist_ok=True)
        self.con.execute(f"SET temp_directory='{spill}'")
        self._snapshot: tuple[str, ...] = ()
        self._memo: dict[tuple, tuple[int, int]] = {}

    def use(self, files: list[str]) -> None:
        """Point the ``documents`` view at exactly ``files``."""
        snap = tuple(files)
        if snap != self._snapshot:
            self.con.execute(
                "CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                f"read_parquet({list(snap)!r})"
            )
            self._snapshot = snap

    def expect(self, name: str) -> tuple[int, int]:
        key = (self._snapshot, name)
        if key not in self._memo:
            res = self.con.execute(_materialized(ORACLE_SQL[name]))
            cols = [d[0] for d in res.description]
            self._memo[key] = fingerprint(cols, res.fetchall())
        return self._memo[key]

    def counts(self, merged: bool = False) -> tuple[int, int]:
        """(nodes, edges) of the built graph, or of the merged graph."""
        key = (self._snapshot, "merged_counts" if merged else "counts")
        if key not in self._memo:
            sql = MERGED_COUNTS_SQL if merged else COUNTS_SQL
            self._memo[key] = tuple(self.con.execute(sql).fetchone())
        return self._memo[key]

    def close(self) -> None:
        self.con.close()

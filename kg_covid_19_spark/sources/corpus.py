"""Table providers: the web-page corpus and driver test tables.

Abstracts Iceberg vs Parquet (SURVEY.md §7.4 risk 6): the sandbox has no
Iceberg catalog jars, so path-Parquet is the hermetic fallback; on a real
cluster `read_table` resolves ``iceberg:<catalog.table>`` names to
``spark.read.table`` (partition pruning on lang/warc_ts days comes for free
either way — both sources expose partition columns to Catalyst).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_source_key(spark: SparkSession, sf_dir: str) -> tuple:
    """Cache key for session-level persisted frames derived from the
    driver tables: (applicationId, RESOLVED SOURCE, sf_dir). The source
    component matters because read_table's resolution depends on the
    mutable session conf ``spark.kg.catalog`` — a keyed cache that
    ignored it would serve frames built from the wrong source after a
    mid-session catalog toggle (as tests/test_provider.py performs)."""
    try:
        catalog = spark.conf.get("spark.kg.catalog", "") or ""
    except Exception:
        catalog = ""
    return (spark.sparkContext.applicationId, catalog, sf_dir)


#: every session-level cache dict keyed by table_source_key (possibly with
#: extra suffix components) registers itself here so a table REWRITE in the
#: same session can evict the now-stale persisted frames instead of serving
#: them for the application lifetime. TableProvider.write calls
#: invalidate_session_caches after every successful write.
_SESSION_CACHES: list[dict] = []


def register_session_cache(cache: dict) -> dict:
    """Declare ``cache`` (a dict whose keys start with table_source_key's
    (applicationId, catalog, sf_dir) triple) as derived from driver
    tables; returns it for inline use at module scope."""
    _SESSION_CACHES.append(cache)
    return cache


def _unpersist_value(val) -> None:
    if isinstance(val, DataFrame):
        try:
            val.unpersist(False)
        except Exception:
            pass
    elif isinstance(val, tuple):
        for v in val:
            _unpersist_value(v)


def invalidate_session_caches(spark: SparkSession) -> int:
    """Evict (and unpersist) every registered cache entry belonging to
    this application. Called by TableProvider.write; conservative
    (all sources, all sf_dirs for the app) because a catalog-mode write
    changes what any read_table resolution may return and writes are
    rare relative to reads. Returns the number of evicted entries."""
    app = spark.sparkContext.applicationId
    _SCAN_LAYOUT.clear()
    n = 0
    for cache in _SESSION_CACHES:
        for key in list(cache):
            if isinstance(key, tuple) and key and key[0] == app:
                _unpersist_value(cache.pop(key))
                n += 1
    return n


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a driver table through the provider seam (sources/provider):
    an explicit ``iceberg:<catalog.table>`` name or a session-configured
    catalog (``spark.kg.catalog``) routes through ``spark.read.table``;
    otherwise path-Parquet under ``sf_dir``."""
    if name.startswith("iceberg:"):
        return spark.read.table(name.split(":", 1)[1])
    from .provider import TableProvider

    return TableProvider(spark, sf_dir).read(name)


# sf_dir → (scan split count, raw bytes), memoized: the .rdd conversion
# previously used to probe splits costs ~1s of driver time per call.
# Cleared by invalidate_session_caches, since a rewrite changes the files.
_SCAN_LAYOUT: dict[str, tuple[int, int]] = {}


def _scan_layout(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """(estimated scan splits, total file bytes) for the documents table.

    r7: splits are estimated from file sizes with the scan-packing
    formula (maxPartitionBytes + openCostInBytes per file, guide §6)
    instead of a .rdd conversion — the conversion costs ~1 s of driver
    time and it landed inside the timed KG build. Falls back to the
    exact probe for non-path sources."""
    cached = _SCAN_LAYOUT.get(sf_dir)
    if cached is None:
        path = f"{sf_dir}/documents.parquet"
        try:
            sizes = [
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ] if os.path.isdir(path) else [os.path.getsize(path)]
            conf = spark._jsparkSession.sessionState().conf()
            max_bytes = conf.filesMaxPartitionBytes()
            open_cost = conf.filesOpenCostInBytes()
            total = sum(s + open_cost for s in sizes)
            cached = (max(1, -(-total // max_bytes)), sum(sizes))
        except OSError:
            n = spark.read.parquet(path).rdd.getNumPartitions()
            cached = (n, 0)
        _SCAN_LAYOUT[sf_dir] = cached
    return cached


def _scan_partitions(spark: SparkSession, sf_dir: str) -> int:
    return _scan_layout(spark, sf_dir)[0]


def ensure_min_parallelism(spark: SparkSession, sf_dir: str,
                           df: DataFrame, min_bytes: int = 0) -> DataFrame:
    """web_pages' min-parallelism policy, shared: when the documents scan
    has fewer splits than the default parallelism, round-robin the frame
    up to it so downstream Arrow kernels / expression chains use every
    core instead of serializing onto one or two scan tasks (guide §2.6 /
    §6: the small-file single-row-group trap). At 100 TB the scan has
    thousands of splits and this is a no-op; the repartition only fires
    for under-split inputs, where the shuffled bytes are by construction
    small. Deterministic: sort-before-repartition (on by default) makes
    the round-robin assignment retry-stable, and every consumer is
    row-order insensitive.

    ``min_bytes``: input-size gate (guide §2 "derive from input size").
    Callers whose downstream per-byte work is moderate set it so the
    exchange only fires when there is enough data to amortize it —
    measured on media_grid_neardup: the lift is −1.8 s at a 0.6 MB input
    and +6..10 s of win at 12 MB. Heavy-per-byte kernels (shingling)
    keep the default 0 (always lift when under-split)."""
    splits, nbytes = _scan_layout(spark, sf_dir)
    target = spark.sparkContext.defaultParallelism
    if splits < target and nbytes >= min_bytes:
        return df.repartition(target)
    return df


def web_pages(spark: SparkSession, sf_dir: str,
              langs: tuple[str, ...] | None = None) -> DataFrame:
    """The engine's input table per BASELINE.json input_hint:
    (url, warc_ts, html, text, lang) — derived deterministically from the
    driver's documents table (doc_id → url; text pre-extracted; html null).

    The lang filter is applied here so Catalyst pushes it into the scan
    (on a partitioned Iceberg table this is partition pruning).

    Min-parallelism policy: a scan with fewer splits than cores serializes
    the whole narrow UDF chain onto a handful of tasks (the classic
    small-file / single-row-group trap). If the scan is under-split we
    repartition up to the default parallelism — a one-off shuffle of the
    raw rows. At 100 TB the Iceberg scan has thousands of splits and this
    is a no-op; it only fires for toy inputs and late small partitions.
    """
    docs = read_table(spark, sf_dir, "documents")
    if langs:
        docs = docs.filter(F.col("lang").isin(list(langs)))
    target = spark.sparkContext.defaultParallelism
    if _scan_partitions(spark, sf_dir) < target:
        docs = docs.repartition(target)
    return docs.select(
        F.concat(F.lit("https://example.org/doc/"), F.col("doc_id").cast("string"))
        .alias("url"),
        F.to_timestamp(F.lit("2020-03-01 00:00:00")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
    )

"""Table providers: the web-page corpus and driver test tables.

Abstracts Iceberg vs Parquet (SURVEY.md §7.4 risk 6): the sandbox has no
Iceberg catalog jars, so path-Parquet is the hermetic fallback; on a real
cluster `read_table` resolves ``iceberg:<catalog.table>`` names to
``spark.read.table`` (partition pruning on lang/warc_ts days comes for free
either way — both sources expose partition columns to Catalyst).

Every frame derived from these tables that outlives one call is a
session *artifact* (:func:`artifact`), keyed by its input files.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable, Hashable, Sequence
from typing import TypeVar

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

T = TypeVar("T")


def table_source_key(spark: SparkSession, sf_dir: str) -> tuple:
    """(applicationId, RESOLVED SOURCE, sf_dir) — the source an artifact
    is derived from. The source component matters because read_table's
    resolution depends on the mutable session conf ``spark.kg.catalog``
    — a key that ignored it would serve frames built from the wrong
    source after a mid-session catalog toggle (as tests/test_provider.py
    performs)."""
    try:
        catalog = spark.conf.get("spark.kg.catalog", "") or ""
    except Exception:
        catalog = ""
    return (spark.sparkContext.applicationId, catalog, sf_dir)


def _documents_files(sf_dir: str) -> tuple[tuple[str, int, int], ...]:
    """Sorted (relative path, size, mtime_ns) of the documents table's
    data files as Spark's file index sees them: names starting with
    ``_`` or ``.`` (markers, files still being landed) are skipped and
    partition directories are recursed. A single-file table lists
    itself; a missing path lists nothing."""
    root = f"{sf_dir}/documents.parquet"
    if os.path.isfile(root):
        st = os.stat(root)
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    dirs = [""]
    while dirs:
        rel = dirs.pop()
        try:
            entries = list(os.scandir(os.path.join(root, rel)))
        except OSError:
            continue
        for e in entries:
            if e.name.startswith(("_", ".")):
                continue
            name = os.path.join(rel, e.name)
            try:
                if e.is_dir():
                    dirs.append(name)
                else:
                    st = e.stat()
                    out.append((name, st.st_size, st.st_mtime_ns))
            except OSError:
                continue  # removed while listing
    return tuple(sorted(out))


#: (applicationId, catalog, sf_dir, name) → (fingerprint, value)
_ARTIFACTS: dict[tuple, tuple] = {}
_BUILD = threading.RLock()


def artifact(spark: SparkSession, sf_dir: str, name: Hashable,
             build: Callable[[], T]) -> T:
    """The session artifact ``name`` derived from the tables under
    ``sf_dir``: returned from the registry while its inputs are
    unchanged, else ``build()`` — which returns the value already
    materialized (persisted and filled by :func:`materialize`, or
    local-checkpointed), or a plan over other artifacts' materialized
    frames and driver constants (``kg``: the cached mention set plus the
    term-node constant; ``merged``: those plans plus the fused ontology
    overlap) — is run and its result kept.

    Keying and release. An entry is keyed by (application, catalog,
    sf_dir, name) and holds the fingerprint of its inputs: in path mode
    the sorted (file, size, mtime_ns) list of the documents table's
    visible data files, in catalog mode ``None`` (there
    ``TableProvider.write``'s call to :func:`invalidate_session_caches`
    is the only trigger). A lookup whose fingerprint differs is a miss,
    and a miss first releases every entry of the same source built from
    other files: Spark's CacheManager matches a file scan by its root
    path, so a stale persisted frame would otherwise be substituted
    into the fresh plans. Releasing unpersists a persisted frame and
    frees the blocks of the local checkpoints its plan reads from.
    Misses build under one re-entrant lock with a second lookup inside
    it, so concurrent callers build an artifact once; hits take no lock.

    Timing caveat: a second call in the same application is a hit that
    costs a directory listing. A harness that loops the suite in one
    application must use a fresh process per iteration (as
    tools/scaling.py does), or its timings of the artifact-backed
    queries measure a dict lookup.

    Durability: a persisted artifact (the mention set, ``und_cooc``) keeps
    its lineage, so a lost block is recomputed. Builds that
    ``localCheckpoint`` (the iterative graph loops) cut lineage to
    executor-local blocks. A lost executor, or one removed by dynamic
    allocation, makes such an artifact unrecoverable until it is
    rebuilt; a cluster that runs with dynamic allocation should use a
    reliable ``checkpoint()`` or replicated ``persist`` there
    instead."""
    source = table_source_key(spark, sf_dir)
    fp = None if source[1] else _documents_files(sf_dir)
    key = (*source, name)
    hit = _ARTIFACTS.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    with _BUILD:
        hit = _ARTIFACTS.get(key)
        if hit is not None and hit[0] == fp:
            return hit[1]
        _release_where(lambda k, f: k[:3] == source and f != fp)
        value = build()
        _ARTIFACTS[key] = (fp, value)
        return value


def _release(value) -> None:
    if isinstance(value, tuple):
        for v in value:
            _release(v)
    elif isinstance(value, DataFrame):
        value.unpersist(False)
        leaves = value._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.nodeName() == "LogicalRDD":
                leaf.rdd().unpersist(False)


def _release_where(pred: Callable[[tuple, object], bool]) -> int:
    with _BUILD:
        keys = [k for k, (fp, _) in list(_ARTIFACTS.items()) if pred(k, fp)]
        for k in keys:
            _release(_ARTIFACTS.pop(k)[1])
        return len(keys)


def invalidate_session_caches(spark: SparkSession) -> int:
    """Release every artifact of this application and return how many.
    Called by TableProvider.write; conservative (all sources, all
    sf_dirs for the app) because a catalog-mode write changes what any
    read_table resolution may return and writes are rare relative to
    reads. Path-mode file changes need no call (see :func:`artifact`)."""
    app = spark.sparkContext.applicationId
    return _release_where(lambda key, _fp: key[0] == app)


def materialize(*frames: DataFrame) -> None:
    """Fill the caches of the persisted ``frames`` in order (a later
    frame may read an earlier one's cache). A ``noop`` write runs the
    plan and drops its rows; under AQE it never runs more jobs than
    ``count()``, and one fewer on a frame not ending in an exchange."""
    for df in frames:
        df.write.format("noop").mode("overwrite").save()


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a driver table through the provider seam (sources/provider):
    an explicit ``iceberg:<catalog.table>`` name or a session-configured
    catalog (``spark.kg.catalog``) routes through ``spark.read.table``;
    otherwise path-Parquet under ``sf_dir``."""
    if name.startswith("iceberg:"):
        return spark.read.table(name.split(":", 1)[1])
    from .provider import TableProvider

    return TableProvider(spark, sf_dir).read(name)


def local_frame(spark: SparkSession, rows: Sequence[Sequence],
                schema: str | StructType) -> DataFrame:
    """A driver-side constant (dictionary, mapping table, offsets) as a
    frame: ``rows`` are positional tuples typed by ``schema`` (a DDL
    string or a StructType); ``None`` values and zero rows are allowed.

    The rows go to the JVM as one Arrow table and the frame is an
    analyzed ``LocalRelation``. ``spark.createDataFrame(list, schema)``
    would instead plan a ``LogicalRDD`` over a pickled PythonRDD, so
    every job reading the constant starts Python worker tasks just to
    unpickle its rows: on a 4-vCPU host a ``groupBy(curie).collect()``
    over the 13-row gazetteer takes 610 ms that way and 166 ms from the
    ``LocalRelation``. A ``LocalRelation`` is also what the optimizer
    can fold, size exactly and broadcast."""
    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow, strict=True)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)


def _scan_layout(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """(scan splits, total file bytes) for the documents table.

    The split count is the one Spark plans for the scan, computed from
    the file sizes instead of a .rdd conversion (which costs ~1 s of
    driver time and landed inside the timed KG build). It mirrors
    ``FilePartition.maxSplitBytes``: the split size is
    ``maxPartitionBytes`` capped down to the bytes per core (total
    bytes, each file charged ``openCostInBytes``, over
    ``files.minPartitionNum`` or the default parallelism) but not below
    the open cost. Each file is cut into pieces of that size and the
    pieces are packed largest first, a new split starting whenever the
    next piece would overflow the current one. The sizes come from the
    listing the artifact fingerprint uses; a source with no files under
    ``sf_dir`` (a catalog table) uses the planner's size estimate as one
    file."""
    sizes = [size for _, size, _ in _documents_files(sf_dir)]
    if not sizes:
        plan = read_table(spark, sf_dir, "documents")._jdf.queryExecution()
        sizes = [int(str(plan.optimizedPlan().stats().sizeInBytes()))]
    conf = spark._jsparkSession.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    cores = int(
        spark.conf.get("spark.sql.files.minPartitionNum", None)
        or spark.conf.get("spark.sql.leafNodeDefaultParallelism", None)
        or spark.sparkContext.defaultParallelism
    )
    per_core = sum(s + open_cost for s in sizes) // cores
    split = min(conf.filesMaxPartitionBytes(), max(open_cost, per_core))
    pieces = sorted(
        (min(split, s - off) for s in sizes for off in range(0, s, split)),
        reverse=True,
    )
    splits, filled = 0, 0
    for piece in pieces:
        if not splits or filled + piece > split:
            splits, filled = splits + 1, 0
        filled += piece + open_cost
    return splits, sum(sizes)


def ensure_min_parallelism(spark: SparkSession, sf_dir: str,
                           df: DataFrame, min_bytes: int = 0) -> DataFrame:
    """The min-parallelism rule: when the documents scan has fewer
    splits than the default parallelism, round-robin the frame up to it
    so downstream Arrow kernels / expression chains use every core
    instead of serializing onto one or two scan tasks (guide §2.6 / §6:
    the small-file single-row-group trap). At 100 TB the scan has
    thousands of splits and this is a no-op; the repartition only fires
    for under-split inputs, where the shuffled bytes are by construction
    small. Deterministic: sort-before-repartition (on by default) makes
    the round-robin assignment retry-stable, and every consumer is
    row-order insensitive.

    ``min_bytes``: input-size gate (guide §2 "derive from input size").
    Callers whose downstream per-byte work is moderate set it so the
    exchange only fires when there is enough data to amortize it —
    measured on a per-row image-feature kernel followed by a banded
    self-join: the lift is −1.8 s at a 0.6 MB input and +6..10 s of win
    at 12 MB. Heavy-per-byte kernels (shingling) keep the default 0
    (always lift when under-split)."""
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

    An under-split scan is repartitioned up to the default parallelism
    (``ensure_min_parallelism``) so the narrow UDF chain downstream uses
    every core.
    """
    docs = read_table(spark, sf_dir, "documents")
    if langs:
        docs = docs.filter(F.col("lang").isin(list(langs)))
    docs = ensure_min_parallelism(spark, sf_dir, docs)
    return docs.select(
        F.concat(F.lit("https://example.org/doc/"), F.col("doc_id").cast("string"))
        .alias("url"),
        F.to_timestamp(F.lit("2020-03-01 00:00:00")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
    )

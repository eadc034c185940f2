"""Incremental KG ingestion over Structured Streaming.

The reference is a monthly batch (Jenkinsfile cron, SURVEY.md §2.9); its
resumability contract is "already-transformed inputs are skipped"
(cached downloads, download_utils.py:50-56 — batch analog:
plans/checkpoint.py). This module is the continuous version of the same
contract: new document files arriving in a directory flow through the
SAME mention expression (operators/mentions.curies — the stream and
the batch share one code path, so batch/stream parity is structural,
not coincidental) and append ``biolink:mentions`` edges to a parquet
sink. The file-source + checkpoint pair gives exactly-once per input
file: a restart with the same checkpoint re-processes nothing, and
newly arrived files are picked up incrementally — the streaming analog
of the per-partition lineage manifest.

The streaming query is a narrow map chain (schema'd scan → mention
expression → explode → project), so the micro-batch plan has zero
shuffles — the same 100 TB property as the batch build
(plans/pipeline.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dictionaries import (
    DOC_PREFIX,
    MENTION_PREDICATE,
    MENTION_RELATION,
    PROVIDED_BY,
)
from ..operators.mentions import curies


def _mention_edges(docs: DataFrame) -> DataFrame:
    """(streaming or batch) documents → mention edge rows; shared with
    the batch pipeline's edge shape (plans/pipeline.py build_kg)."""
    return (
        docs.select(
            F.col("doc_id"),
            F.explode_outer(curies(F.col("text"))).alias("curie"),
        )
        .filter(F.col("curie").isNotNull())
        .select(
            F.concat(F.lit(DOC_PREFIX), F.col("doc_id").cast("string"))
            .alias("subject"),
            F.lit(MENTION_PREDICATE).alias("predicate"),
            F.col("curie").alias("object"),
            F.lit(MENTION_RELATION).alias("relation"),
            F.lit(PROVIDED_BY).alias("provided_by"),
        )
    )


def stream_mention_edges(
    spark: SparkSession,
    docs_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    max_files_per_trigger: int = 1,
    query_name: str = "kg_mentions_stream",
) -> DataFrame:
    """Run the incremental ingest until the directory is drained, then
    return the accumulated edge table.

    Calling this again with the same ``checkpoint_dir`` after new files
    land processes ONLY the new files (exactly-once per file) — the
    resume test asserts both the no-duplicates and the pickup."""
    schema = spark.read.parquet(docs_dir).schema
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(docs_dir)
    )
    q = (
        _mention_edges(docs)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.read.parquet(out_dir)


def batch_mention_edges(spark: SparkSession, docs_dir: str) -> DataFrame:
    """The batch plan the stream must converge to (same expression)."""
    return _mention_edges(spark.read.parquet(docs_dir))


def stream_dedup_hashes(
    spark: SparkSession,
    docs_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    max_files_per_trigger: int = 1,
    query_name: str = "doc_dedup_stream",
) -> DataFrame:
    """Streaming exact dedup: emit each distinct md5(text) ONCE across
    the lifetime of the checkpoint — the continuous form of
    operators/dedup.exact_dup_clusters' hash key.

    ``dropDuplicates`` keeps its seen-set in checkpointed state, so the
    dedup survives restarts: a re-run with the same checkpoint_dir
    treats previously-seen hashes as duplicates even when they arrive
    in brand-new files — exactly-once per CONTENT, strictly stronger
    than the file-level exactly-once of stream_mention_edges. The
    deterministic contract (and what the parity test pins) is the
    emitted hash SET; which physical row survives a within-batch tie is
    partition-order dependent, so only the hash column is emitted.
    State note at 100 TB: unbounded dropDuplicates state is the honest
    cost of corpus-lifetime dedup (it is the seen-set, sharded across
    executors by the state store); when near-duplicate arrivals are
    known to cluster in time, use stream_dedup_hashes_watermarked —
    the bounded-state sibling below."""
    schema = spark.read.parquet(docs_dir).schema
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(docs_dir)
    )
    hashes = docs.select(F.md5("text").alias("text_hash")).dropDuplicates(
        ["text_hash"]
    )
    q = (
        hashes.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.read.parquet(out_dir)


def stream_dedup_hashes_watermarked(
    spark: SparkSession,
    docs_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    ts_col: str = "event_ts",
    delay: str = "30 minutes",
    max_files_per_trigger: int = 1,
    query_name: str = "doc_dedup_stream_wm",
) -> tuple[DataFrame, list[int]]:
    """Streaming dedup with BOUNDED state: ``dropDuplicatesWithinWatermark``
    keyed on md5(text), state evicted once the event-time watermark
    passes first_seen(ts) + delay.

    The trade vs stream_dedup_hashes is explicit: duplicates arriving
    WITHIN the watermark window are dropped exactly like the unbounded
    path, but a re-arrival after the window re-emits the hash — state
    is O(keys active within the window), not the corpus seen-set, which
    is the only honest shape when the stream runs for months at 100 TB
    and near-duplicate arrivals are known to cluster in time (SCALE.md
    "Scalar ceilings"). Returns the accumulated output AND the state
    operator's per-batch numRowsTotal so callers (and the boundedness
    test) can observe eviction actually happening."""
    schema = spark.read.parquet(docs_dir).schema
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(docs_dir)
    )
    hashes = (
        docs.select(F.md5("text").alias("text_hash"), F.col(ts_col))
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(["text_hash"])
        .select("text_hash")
    )
    q = (
        hashes.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    state_rows = [
        op["numRowsTotal"]
        for p in q.recentProgress
        for op in (p.get("stateOperators") or [])
    ]
    q.stop()
    return spark.read.parquet(out_dir), state_rows


def _pair_count_plan(docs: DataFrame) -> DataFrame:
    """(streaming or batch) documents → pair-support counts via the
    SAME row-local expansion and count as the batch
    kg_cooccurrence_counts (plans/pipeline.pair_counts) — stream/batch
    parity is structural."""
    from ..plans.pipeline import pair_counts

    return pair_counts(docs.select(curies(F.col("text")).alias("curies")))


def stream_cooc_counts(
    spark: SparkSession,
    docs_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    query_name: str = "kg_cooc_stream",
) -> DataFrame:
    """Continuously-maintained co-occurrence support counts — the
    streaming twin of kg_cooccurrence_counts (and the live form of
    kg_cooc_incremental's incremental==full contract).

    Pair expansion is row-local inside each micro-batch (zero shuffle
    on the doc stream); the ONLY state is the aggregate itself, keyed
    by curie pairs — bounded by |gazetteer|², not the corpus — which is
    what makes complete-mode output legitimate at any corpus scale.
    A restart with the same checkpoint resumes the counts exactly-once
    per input file."""
    schema = spark.read.parquet(docs_dir).schema
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(docs_dir)
    )
    q = (
        _pair_count_plan(docs)
        .writeStream.outputMode("complete")
        .format("memory")
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(query_name)

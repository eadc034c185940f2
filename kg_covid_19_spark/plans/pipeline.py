"""End-to-end KG construction plan (SURVEY.md §7.2 minimum slice, grown up).

web_pages → text → mention detection (one native token-match expression
over a term → curie map literal, operators/mentions.py) → mention and
co-occurrence edges → node/edge frames.

Shuffle budget at 100 TB (the thing that decides whether this survives a
1000-executor cluster):

* mention detection, mention edges, pair generation: **zero shuffles** —
  narrow map chain; per-doc dedup happens inside the expression (row-local
  state) and co-occurrence pairs are expanded from the per-row mention
  array (:func:`cooc_pairs`), never via a groupBy/self-join on doc_id.
* term nodes: groupBy over ≤|dictionary| distinct keys — partial
  aggregation collapses each task's output to ≤|dictionary| rows before
  the exchange, so the shuffle is KB-sized regardless of corpus size.
* co-occurrence edges: the keys of the pair-support count (a groupBy over
  the pair key) — the distinct universe is |dictionary|², not
  corpus-sized, so map-side partial aggregation absorbs the hot keys
  (every doc mentions NCBITaxon:9606-style terms) before any network
  transfer. AQE skew handling covers the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..dictionaries import (
    COOC_PREDICATE,
    COOC_RELATION,
    DOC_PREFIX,
    MENTION_PREDICATE,
    MENTION_RELATION,
    PROVIDED_BY,
    PUB_CATEGORY,
    canonical_gazetteer,
)
from ..functions.text import extracted_text
from ..operators.mentions import curies
from ..sources.corpus import (
    _scan_layout,
    artifact,
    local_frame,
    read_table,
    web_pages,
)


def pages_with_mentions(spark: SparkSession, sf_dir: str,
                        langs: tuple[str, ...] | None = None,
                        has_html: bool = False) -> DataFrame:
    """web_pages + ``curies: array<string>`` — the sorted, per-document-
    deduped canonical mention set (:func:`operators.mentions.curies`).
    One narrow projection, no shuffle.

    ``has_html``: the driver corpus declares html as a null literal, so by
    default the text kernel is the (JVM-side) identity and the html→text
    Arrow stage is elided from the plan entirely; pass True for corpora
    with raw bytes and the full extraction kernel (functions/text.py) runs.
    """
    pages = web_pages(spark, sf_dir, langs)
    text = (
        extracted_text(F.col("text"), F.col("html")) if has_html else F.col("text")
    )
    return pages.withColumn("text", text).withColumn("curies", curies(F.col("text")))


def doc_mentions(spark: SparkSession, sf_dir: str,
                 langs: tuple[str, ...] | None = None) -> DataFrame:
    """(doc_id, curie) distinct mention pairs — the engine's E4 analog.

    Distinct by construction (the expression dedups per document against
    the pre-normalized gazetteer, dictionaries.normalized_gazetteer) — the
    reference's ``seen`` set (scibite_cord.py:187-188) without any shuffle.
    """
    # explode_outer + post-filter rather than inner explode: an inner
    # explode makes Catalyst infer a `size(curies) > 0` pre-filter that
    # evaluates the mention extraction a second time, below the ingest
    # repartition (at scan parallelism). explode_outer infers no such
    # filter → the extraction runs once, after the exchange.
    return (
        pages_with_mentions(spark, sf_dir, langs)
        .select("doc_id", F.explode_outer("curies").alias("curie"))
        .filter(F.col("curie").isNotNull())
    )


def cooc_pairs(frame: DataFrame, *carry: str) -> DataFrame:
    """(``*carry``, subject, object) rows, subject < object, for every
    pair of one row's ``curies`` (a deduped mention array of a document
    or a sentence) — the ONE row-local pair expansion. Zero shuffle: the
    scale-safe alternative to a mentions self-join on doc_id, which at
    100 TB shuffles the whole corpus on a corpus-sized key.

    Two generators and a filter, so the expansion stays in whole-stage
    codegen (a nested transform/flatten/filter lambda does not).
    ``explode_outer`` rather than ``explode``: an inner explode makes
    Catalyst infer a ``size(curies) > 0`` filter that it pushes below a
    projection computing ``curies``, which then evaluates the mention
    extraction twice (see :func:`doc_mentions`); the null rows of the
    outer form fail ``subject < object``."""
    return (
        frame.select(*carry, F.explode_outer("curies").alias("subject"), "curies")
        .select(*carry, "subject", F.explode_outer("curies").alias("object"))
        .filter(F.col("subject") < F.col("object"))
    )


def pair_counts(frame: DataFrame) -> DataFrame:
    """(subject, object, n_docs): :func:`cooc_pairs` + a bounded groupBy
    over ≤|dictionary|² keys — the one definition of pair-support
    counting, shared by the full and incremental queries so their
    'incremental == full' contract cannot drift."""
    return (
        cooc_pairs(frame)
        .groupBy("subject", "object")
        .agg(F.count("*").alias("n_docs"))
    )


def web_extract_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The html→text kernel exercised END-TO-END against the oracle
    (north rule: "byte-identical text extraction per url"): wrap each
    document's text in deterministic html bytes (head + script noise +
    body tags), NULL the text column, run the full Arrow extraction
    kernel (functions/text.py: script/style strip → tag strip → ws
    collapse → NFC), and emit the recovered text. For the driver corpus
    (printable ASCII, no angle brackets) extraction inverts the
    wrapping exactly, so the DuckDB oracle is the raw text itself —
    any kernel drift (regex change, normalization change, encoding
    slip) breaks the value hash. The hash-equality determinism test
    (test local[8] vs local[32]) pins cross-parallelism byte identity;
    this pins cross-ENGINE byte identity."""
    from ..functions.text import extract_html_text

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    html = F.encode(
        F.concat(
            F.lit("<html><head><script>var x = 1 < 2;</script>"
                  "<style>p{color:red}</style></head><body><p>"),
            F.col("text"),
            F.lit("</p></body></html>"),
        ),
        "utf-8",
    )
    return docs.select(
        "doc_id",
        F.trim(extract_html_text(html)).alias("text"),
    )


def gazetteer_nodes(spark: SparkSession) -> DataFrame:
    """Canonical (curie, name, category) — one row per canonical CURIE
    (``dictionaries.canonical_gazetteer``).

    The min is taken on the driver, so the frame is a plain
    ``LocalRelation`` and every plan that joins it carries no exchange
    or aggregate for it."""
    return local_frame(
        spark, canonical_gazetteer(), "curie string, name string, category string"
    )


def build_kg(spark: SparkSession, sf_dir: str,
             langs: tuple[str, ...] | None = None) -> tuple[DataFrame, DataFrame]:
    """Full pipeline → (nodes, edges) KGX frames.

    Mirrors the reference transform+merge contract: publication node per
    document (scibite_cord.py:141-188), term node per mentioned entity,
    biolink:mentions doc→term edges (scibite_cord.py:220-232), pair-deduped
    biolink:correlated_with term-term edges (scibite_cord.py:290-340), all
    deduped on the KGX keys (id) / (subject,predicate,object,relation).

    Every frame is a projection of the cached mention set
    (:func:`get_mention_set`), so the mention extraction ran once, before
    this call, and no pair is expanded here:

    * publication nodes: the mention rows with ``pos = 0`` or a null
      ``pos`` — exactly one per document;
    * mention edges: the mention rows with a non-null ``curie``;
    * term nodes: the distinct curies joined to the gazetteer;
    * co-occurrence edges: the keys of the pair-support counts.
    """
    doc_curie = F.concat(F.lit(DOC_PREFIX), F.col("doc_id").cast("string"))
    rows, pairs = get_mention_set(spark, sf_dir, langs)

    pub_nodes = rows.filter(F.col("pos").isNull() | (F.col("pos") == 0)).select(
        doc_curie.alias("id"),
        F.concat(F.lit("Document "), F.col("doc_id").cast("string")).alias("name"),
        F.lit(PUB_CATEGORY).alias("category"),
        F.lit(PROVIDED_BY).alias("provided_by"),
    )

    mentions = rows.filter(F.col("curie").isNotNull())

    # term nodes: distinct mentioned curies (KB-sized groupBy) ⋈ broadcast
    # canonical dictionary.
    term_nodes = (
        mentions.select("curie").distinct()
        .join(F.broadcast(gazetteer_nodes(spark)), "curie")
        .select(
            F.col("curie").alias("id"), "name", "category",
            F.lit(PROVIDED_BY).alias("provided_by"),
        )
    )
    nodes = term_nodes.unionByName(pub_nodes)

    mention_edges = mentions.select(
        doc_curie.alias("subject"),
        F.lit(MENTION_PREDICATE).alias("predicate"),
        F.col("curie").alias("object"),
        F.lit(MENTION_RELATION).alias("relation"),
        F.lit(PROVIDED_BY).alias("provided_by"),
    )

    cooc_edges = pairs.select(
        "subject",
        F.lit(COOC_PREDICATE).alias("predicate"),
        "object",
        F.lit(COOC_RELATION).alias("relation"),
        F.lit(PROVIDED_BY).alias("provided_by"),
    )

    edges = mention_edges.unionByName(cooc_edges)
    return nodes, edges


# ---------------------------------------------------------------------------
# Materialized graph. The reference never queries raw sources — it
# queries the *merged artifact* (a Blazegraph journal loaded from merged-kg,
# Jenkinsfile:126, query.py:8-15). Our equivalent: build the KG once per
# input snapshot as session artifacts (sources/corpus.artifact) and let
# every query plan start from the materialized graph. On a cluster this
# is the Iceberg output table of the merge stage.
# ---------------------------------------------------------------------------


def _artifact_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Partition count for the persisted graph artifacts, derived from
    input size (guide §2: scale-adaptive, never a local constant): one
    partition per ~8 MB of corpus, floored at 2. The KGX frames and the
    mention rows are narrow projections off the mention extraction's output,
    so they inherit the ingest's width — ~65 near-empty partitions at
    bench scale for the KGX union, and every one of the ~30 downstream
    graph queries paid a task per partition per scan (measured: the merge
    stage alone re-scanned them 4×). coalesce() to this count is a
    no-op at 100 TB (count ≥ existing partitions) and collapses only
    cache-read + projection work locally — the mention extraction's own
    parallelism is untouched (it runs before the coalesce)."""
    _, nbytes = _scan_layout(spark, sf_dir)
    return max(2, nbytes // (8 << 20))


def get_kg(spark: SparkSession, sf_dir: str,
           langs: tuple[str, ...] | None = None) -> tuple[DataFrame, DataFrame]:
    def build():
        n_parts = _artifact_partitions(spark, sf_dir)
        nodes, edges = build_kg(spark, sf_dir, langs)
        nodes = nodes.coalesce(n_parts).persist()
        edges = edges.coalesce(n_parts).persist()
        # eager materialization: queries must read the graph, not re-run
        # the transform per union branch.
        nodes.count()
        edges.count()
        return nodes, edges

    return artifact(spark, sf_dir, ("kg", langs), build)


def get_mention_set(spark: SparkSession, sf_dir: str,
                    langs: tuple[str, ...] | None = None
                    ) -> tuple[DataFrame, DataFrame]:
    """The cached mention set: (mention rows, pair counts).

    * mention rows ``(doc_id, pos, curie)`` — each document's sorted,
      deduped mention set, one row per mention (``posexplode_outer``);
      a document with no mention keeps one row with a null ``pos`` and
      ``curie``.
    * pair counts ``(subject, object, n_docs)`` — :func:`pair_counts`
      over the same documents.

    One pass of the mention extraction feeds both: its ``(doc_id, curies)``
    output is persisted for the length of the build, the two frames are
    persisted and counted from it, and it is released. Both hold only
    scalar columns, which Spark's columnar cache encodes and compresses;
    an ``array<string>`` column it stores uncompressed, at several times
    the bytes. They are plain persists, so a lost block is recomputed
    from lineage.

    Every mention reader projects this value: the graph (:func:`build_kg`),
    :func:`get_mentions`, the pair-support queries and, regrouped,
    :func:`get_mention_arrays`."""
    def build():
        pm = (
            pages_with_mentions(spark, sf_dir, langs)
            .select("doc_id", "curies")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        pairs = pair_counts(pm).persist()
        rows = (
            pm.select("doc_id", F.posexplode_outer("curies").alias("pos", "curie"))
            .coalesce(_artifact_partitions(spark, sf_dir))
            .persist()
        )
        # pairs first: its map stage reads ``pm`` at the ingest width, so
        # the extraction runs there once and fills ``pm``; the coalesced rows
        # then read ``pm`` from the cache
        pairs.count()
        rows.count()
        pm.unpersist()
        return rows, pairs

    return artifact(spark, sf_dir, ("mention_set", langs), build)


def get_mentions(spark: SparkSession, sf_dir: str,
                 langs: tuple[str, ...] | None = None) -> DataFrame:
    """(doc_id, curie) mention pairs — the mention rows of
    :func:`get_mention_set` that carry a curie.

    Distinct on (doc_id, curie) by construction: the extraction dedups each
    document's mentions (see :func:`doc_mentions`), so a count per curie
    is its document frequency without a distinct."""
    rows, _ = get_mention_set(spark, sf_dir, langs)
    return rows.filter(F.col("curie").isNotNull()).select("doc_id", "curie")


def get_mention_arrays(spark: SparkSession, sf_dir: str,
                       langs: tuple[str, ...] | None = None) -> DataFrame:
    """(doc_id, curies:array<string>) — each document's sorted mention
    set, regrouped from the mention rows of :func:`get_mention_set` (a
    document with no mention gets ``[]``). A plan, not a cache: only
    readers that need whole per-document sets (the incremental queries)
    pay its groupBy. The call builds the mention set if it is missing."""
    rows, _ = get_mention_set(spark, sf_dir, langs)
    return rows.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("curie")).alias("curies")
    )

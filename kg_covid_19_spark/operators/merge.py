"""The merge stage — merge.yaml union-with-provenance semantics, Spark-first.

Reference behavior (kg_covid_19/merge_utils/merge_kg.py:22-34 + merge.yaml):
KGX loads every source's node/edge TSVs into one MultiDiGraph — nodes keyed
by id with property union and provenance accumulation, edges deduped on
their key — then writes the merged artifact and graph stats
(merge.yaml:114-144). Our re-expression:

* ``unionByName(allowMissingColumns=True)`` across heterogeneous source
  frames (U1),
* node fusion: groupBy(id) with deterministic first-by-priority property
  resolution (min) and sorted provided_by accumulation (A9),
* edge dedup on (subject, predicate, object, relation) — north_rule key,
* graph stats: category × provided_by counts (A8).

``merge_overlap`` is the same merge for one large source that is unique
on its key and a small source known on the driver (the documents graph
and the ontology): only the large rows whose key may occur in the small
source are grouped, every other row passes through without a shuffle.
``merge_nodes``/``merge_edges`` stay the merge of many large sources
(``load_and_merge``).

Skew: node fusion groups on entity id — at web scale a handful of ids
(taxa, common diseases) carry orders of magnitude more rows than the
median. ``salted_node_fusion`` performs the canonical two-phase aggregate:
partial per (id, salt) then final per id, bounding any single reducer's
input to ~1/n_salts of the hot key. For the algebraic aggregates used here
Spark's map-side partial aggregation already achieves the same effect, so
the salted path is off by default and exists for the property-fusion
aggregates (collect_list of per-source property maps) where partial
aggregation does NOT shrink the hot key.
"""

from __future__ import annotations

import operator
from collections.abc import Callable, Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def union_sources(frames: list[DataFrame]) -> DataFrame:
    """U1: heterogeneous multi-source union (merge.yaml:6-113)."""
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
    )


def _accum_provenance() -> F.Column:
    # provided_by accumulation, deterministic order (merge semantics:
    # provenance accumulated across sources, merge_kg.py:22-34)
    return F.concat_ws("|", F.sort_array(F.collect_set("provided_by"))).alias(
        "provided_by"
    )


def merge_nodes(frames: list[DataFrame]) -> DataFrame:
    """A9 node fusion: one row per id, min-resolved properties, accumulated
    provenance. min() is the deterministic stand-in for the reference's
    insertion-order first-wins (SURVEY.md §7.4 risk 1)."""
    return (
        union_sources(frames)
        .groupBy("id")
        .agg(
            F.min("name").alias("name"),
            F.min("category").alias("category"),
            _accum_provenance(),
        )
    )


def salted_node_fusion(frames: list[DataFrame], n_salts: int = 16) -> DataFrame:
    """Two-phase (salted) node fusion for skew-heavy property aggregation.

    Phase 1 groups on (id, salt) — the hot id's rows spread over n_salts
    reducers; phase 2 merges the ≤n_salts partials per id. Results are
    identical to merge_nodes (min/union are commutative+associative).
    """
    u = union_sources(frames).withColumn(
        "_salt", F.pmod(F.xxhash64("name", "category", "provided_by"), F.lit(n_salts))
    )
    partial = u.groupBy("id", "_salt").agg(
        F.min("name").alias("name"),
        F.min("category").alias("category"),
        F.collect_set("provided_by").alias("pbs"),
    )
    return partial.groupBy("id").agg(
        F.min("name").alias("name"),
        F.min("category").alias("category"),
        F.concat_ws(
            "|", F.array_sort(F.array_distinct(F.flatten(F.collect_list("pbs"))))
        ).alias("provided_by"),
    )


EDGE_KEY = ("subject", "predicate", "object", "relation")


def merge_edges(frames: list[DataFrame]) -> DataFrame:
    """Edge dedup on the north_rule key (subject, predicate, object,
    relation) with provenance accumulation."""
    return (
        union_sources(frames)
        .groupBy(*EDGE_KEY)
        .agg(_accum_provenance())
    )


def merge_overlap(
    large: DataFrame,
    small: DataFrame,
    small_rows: Sequence[Sequence],
    key: Sequence[str],
    fuse: Callable[[list[DataFrame]], DataFrame],
) -> tuple[DataFrame, DataFrame]:
    """``fuse([large, small])`` split into (pass-through, fused) halves
    whose union has the same rows, for a large source merged with a
    small one whose rows (``small_rows``, in ``small.columns`` order)
    are known on the driver.

    A ``large`` row goes to the fused half when a key column is null or
    every key column's value occurs in that column of ``small_rows`` (a
    superset of the small side's keys). The test is a literal ``isin``
    on the key alone, so no key's rows are split between the halves and
    the pass-through half is a filter + projection of ``large``: no
    join, no broadcast, no exchange. Only the fused half, at most the
    small side plus the large rows that share its keys, is grouped.

    The pass-through rows equal ``fuse``'s output only when both hold:

    * ``large`` is unique on ``key`` (nulls equal), so a pass-through
      row is alone in its group;
    * ``large``'s ``provided_by`` is non-null, since fusing one row
      turns a null provenance into ''.

    Null keys go to the fused half, where they group as ``fuse`` groups
    them."""
    idx = [small.columns.index(c) for c in key]
    hit = reduce(operator.or_, [F.col(c).isNull() for c in key]) | reduce(
        operator.and_,
        [
            F.col(c).isin(sorted({r[i] for r in small_rows} - {None}))
            for c, i in zip(key, idx)
        ],
    )
    fused = fuse([large.filter(hit), small])
    return large.filter(~hit).select(*fused.columns), fused


def remap_node_identifier(
    nodes: DataFrame,
    edges: DataFrame,
    category: str = "biolink:Protein",
    alternative_property: str = "xrefs",
    prefix: str = "UniProtKB",
) -> tuple[DataFrame, DataFrame]:
    """merge.yaml:42-47's `kgx.utils.graph_utils.remap_node_identifier`
    operation: nodes of `category` whose `alternative_property` ('|'-
    multivalued) carries a `prefix:`-id get that id as their new node id,
    and every edge endpoint referencing an old id is rewritten.

    Spark shape: the old→new map is derived from the node frame itself
    and joined onto subject and object (left + coalesce). The map is
    |rewritten nodes|-sized — usually small relative to edges, so AQE
    will broadcast it; no hint is forced because at web scale a remap
    over the full protein universe can exceed broadcast limits, and a
    shuffled hash join on the endpoint key is then correct."""
    from ..functions.curie import get_identifier_by_prefix

    alt = get_identifier_by_prefix(F.col(alternative_property), prefix + ":")
    eligible = (F.col("category") == category) & (
        F.coalesce(F.col(alternative_property), F.lit("")) != ""
    )
    new_id = F.when(eligible, F.coalesce(alt, F.col("id"))).otherwise(
        F.col("id")
    )
    remapped_nodes = nodes.withColumn("id", new_id)
    mapping = (
        nodes.select(F.col("id").alias("_old"), new_id.alias("_new"))
        .filter(F.col("_old") != F.col("_new"))
        .distinct()
    )
    e = edges
    for endpoint in ("subject", "object"):
        e = (
            e.join(
                mapping.withColumnRenamed("_old", endpoint),
                endpoint,
                "left",
            )
            .withColumn(endpoint, F.coalesce("_new", endpoint))
            .drop("_new")
        )
    return remapped_nodes, e.select(*edges.columns)


def apply_source_filters(
    nodes: DataFrame,
    edges: DataFrame,
    node_filters: dict[str, list[str]] | None = None,
    edge_filters: dict[str, list[str]] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """merge.yaml:27-41 per-source filters (F9), KGX load semantics:

    * ``node_filters.category`` — keep nodes whose category is listed;
    * ``edge_filters.edge_label`` — keep edges whose predicate is listed;
    * ``edge_filters.subject_category`` / ``object_category`` — keep
      edges whose endpoint survives the node filter AND has a listed
      category. KGX applies filters at load time, so an edge whose
      endpoint node was filtered out disappears with it — implemented
      as semi-joins against the (already node-filtered) node frame.

    The semi-join build side is the filtered node-id set; AQE broadcasts
    it when small, and at web scale it degrades to a shuffled semi-join
    on the endpoint key — both correct."""
    if node_filters and "category" in node_filters:
        nodes = nodes.filter(F.col("category").isin(node_filters["category"]))
    if edge_filters:
        if "edge_label" in edge_filters:
            edges = edges.filter(
                F.col("predicate").isin(edge_filters["edge_label"])
            )
        for key, endpoint in (
            ("subject_category", "subject"),
            ("object_category", "object"),
        ):
            if key in edge_filters:
                allowed = nodes.filter(
                    F.col("category").isin(edge_filters[key])
                ).select(F.col("id").alias(endpoint))
                edges = edges.join(allowed, endpoint, "left_semi")
    return nodes, edges


def load_and_merge(
    sources: dict[str, tuple[DataFrame, DataFrame]],
    config: dict[str, dict] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The merge entry point (merge_kg.py:22-34 + merge.yaml semantics):
    per-source filters and operations, then the union-with-provenance
    merge and graph stats → (nodes, edges, stats).

    ``config[source]`` mirrors the merge.yaml block: optional keys
    ``node_filters`` / ``edge_filters`` (F9) and ``operations`` (a list
    of {"name": "remap_node_identifier", "args": {...}})."""
    config = config or {}
    node_frames: list[DataFrame] = []
    edge_frames: list[DataFrame] = []
    for name, (nodes, edges) in sources.items():
        cfg = config.get(name, {})
        nodes, edges = apply_source_filters(
            nodes, edges, cfg.get("node_filters"), cfg.get("edge_filters")
        )
        for op in cfg.get("operations", []):
            if op["name"] != "remap_node_identifier":
                raise ValueError(f"unknown merge operation: {op['name']}")
            nodes, edges = remap_node_identifier(
                nodes, edges, **op.get("args", {})
            )
        node_frames.append(nodes)
        edge_frames.append(edges)
    merged_nodes = merge_nodes(node_frames)
    merged_edges = merge_edges(edge_frames)
    return merged_nodes, merged_edges, graph_stats(merged_nodes, merged_edges)


def graph_stats(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """A8: the KGX generate_graph_stats analog (merge.yaml:114-122) —
    node counts per (category, provided_by) plus edge counts per
    (predicate, provided_by), unioned with a kind discriminator."""
    n = nodes.groupBy(
        F.lit("node").alias("kind"),
        F.col("category").alias("facet"),
        "provided_by",
    ).agg(F.count("*").alias("n"))
    e = edges.groupBy(
        F.lit("edge").alias("kind"),
        F.col("predicate").alias("facet"),
        "provided_by",
    ).agg(F.count("*").alias("n"))
    return n.unionByName(e)

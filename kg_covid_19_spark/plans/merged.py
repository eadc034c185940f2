"""Merged-graph query layer: the merge stage wired end-to-end.

documents source (plans/pipeline.get_kg) + ontology source
(sources/ontology) → merge (operators/merge.merge_overlap) → merged
nodes/edges/stats, each with a DuckDB oracle over
dictionaries.merged_cte_sql.

The merged graph is not a second persisted copy: it is the pinned KG
frames, filtered to the rows whose key the ontology does not have, plus
one driver-side frame per side holding the fused overlap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dictionaries import merged_cte_sql
from ..operators.merge import (
    EDGE_KEY,
    graph_stats,
    merge_edges,
    merge_nodes,
    merge_overlap,
)
from ..sources.corpus import artifact, local_frame
from ..sources.ontology import (
    ontology_edge_rows,
    ontology_edges,
    ontology_node_rows,
    ontology_nodes,
)
from .pipeline import get_kg


def get_merged(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(nodes, edges) of the documents graph merged with the ontology.

    ``merge_overlap``'s preconditions hold for the documents side: one
    publication node per document, distinct term curies and edges
    deduped on their key, all with ``provided_by`` 'documents'. Its
    fused half (at most the ontology plus the document rows sharing its
    keys) is collected once per build and kept as a one-partition
    ``LocalRelation``, so executing the merged frames runs no shuffle
    and the build pins nothing beyond ``get_kg``'s frames."""
    def build():
        doc_nodes, doc_edges = get_kg(spark, sf_dir)
        merged = []
        for doc, onto, rows, key, fuse in (
            (doc_nodes, ontology_nodes(spark), ontology_node_rows(), ["id"],
             merge_nodes),
            (doc_edges, ontology_edges(spark), ontology_edge_rows(), EDGE_KEY,
             merge_edges),
        ):
            passed, fused = merge_overlap(doc, onto, rows, key, fuse)
            fused = local_frame(spark, fused.collect(), fused.schema)
            merged.append(passed.unionByName(fused.coalesce(1)))
        return tuple(merged)

    return artifact(spark, sf_dir, "merged", build)


def kg_merged_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _ = get_merged(spark, sf_dir)
    return nodes


def kg_merged_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, edges = get_merged(spark, sf_dir)
    return edges


def kg_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, edges = get_merged(spark, sf_dir)
    return graph_stats(nodes, edges)


def kg_namespace_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG QC: node counts per CURIE namespace (prefix before ':') —
    the prefix-coverage readout a KGX validation pass prints
    (reference: kgx validate over merged-kg; SURVEY §2.6 C-family).
    One bounded groupBy (namespaces are the prefix dictionary)."""
    nodes, _ = get_merged(spark, sf_dir)
    return (
        nodes.select(
            F.split(F.col("id"), ":").getItem(0).alias("namespace")
        )
        .groupBy("namespace")
        .agg(F.count("*").alias("n_nodes"))
    )


def kg_dangling_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG QC: referential integrity — edges whose subject or object has
    no node row (the dangling-edge check a KGX validator runs; the
    merge stage should leave zero on its own output, and the count
    being driver-checked keeps that invariant load-bearing). Two
    anti-joins on the node id key, union, dedup on the edge key."""
    nodes, edges = get_merged(spark, sf_dir)
    ids = nodes.select("id")
    missing_s = edges.join(
        ids.withColumnRenamed("id", "subject"), "subject", "left_anti"
    )
    missing_o = edges.join(
        ids.withColumnRenamed("id", "object"), "object", "left_anti"
    )
    return (
        missing_s.select("subject", "predicate", "object")
        .unionByName(missing_o.select("subject", "predicate", "object"))
        .distinct()
    )


MERGED_QUERIES = {
    "kg_merged_nodes": kg_merged_nodes,
    "kg_merged_edges": kg_merged_edges,
    "kg_graph_stats": kg_graph_stats,
    "kg_namespace_counts": kg_namespace_counts,
    "kg_dangling_edges": kg_dangling_edges,
}

_CTE = merged_cte_sql()

MERGED_ORACLES = {
    "kg_merged_nodes": f"""
WITH {_CTE}
SELECT id, name, category, provided_by FROM merged_nodes
""",
    "kg_merged_edges": f"""
WITH {_CTE}
SELECT subject, predicate, object, relation, provided_by FROM merged_edges
""",
    "kg_namespace_counts": f"""
WITH {_CTE}
SELECT string_split(id, ':')[1] AS namespace, count(*) AS n_nodes
FROM merged_nodes GROUP BY 1
""",
    "kg_dangling_edges": f"""
WITH {_CTE}
SELECT DISTINCT subject, predicate, object FROM (
  SELECT e.subject, e.predicate, e.object FROM merged_edges e
  WHERE e.subject NOT IN (SELECT id FROM merged_nodes)
  UNION ALL
  SELECT e.subject, e.predicate, e.object FROM merged_edges e
  WHERE e.object NOT IN (SELECT id FROM merged_nodes)
)
""",
    "kg_graph_stats": f"""
WITH {_CTE}
SELECT 'node' AS kind, category AS facet, provided_by, count(*) AS n
FROM merged_nodes GROUP BY category, provided_by
UNION ALL
SELECT 'edge' AS kind, predicate AS facet, provided_by, count(*) AS n
FROM merged_edges GROUP BY predicate, provided_by
""",
}

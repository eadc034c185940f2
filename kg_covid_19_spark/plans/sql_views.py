"""SQL view surface — the engine's analog of the reference's SPARQL
endpoint (query.py:8-15 ships queries to Blazegraph; here the merged
graph registers as temp views and any ANSI SQL runs against it).

After ``register_kg_views(spark, sf_dir)``:

    spark.sql("SELECT category, count(*) FROM kg_nodes GROUP BY 1")
    spark.sql(QUERY_01_SQL)  # the shipped .rq templates as SQL

The views sit over the KG plans (plans/pipeline.py get_kg) over the
session-cached mention set, so repeated SQL hits the cache, mirroring
the reference's query-the-published-graph model (§3.3).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .pipeline import get_kg, get_mentions

# queries/query-01-bl-cat-counts.rq and query-06-provided_by_counts.rq
# as SQL over the views — the other five templates live as DataFrame
# plans in plans/queries.py (RQ_TO_PLAN maps them).
QUERY_01_SQL = """
SELECT category, count(*) AS n
FROM kg_nodes GROUP BY category
"""

QUERY_06_SQL = """
SELECT provided_by, count(*) AS cnt
FROM kg_edges GROUP BY provided_by ORDER BY cnt DESC
"""


def register_kg_views(spark: SparkSession, sf_dir: str,
                      prefix: str = "kg") -> list[str]:
    """Register kg_nodes / kg_edges / kg_mentions temp views; returns
    the view names."""
    nodes, edges = get_kg(spark, sf_dir)
    mentions = get_mentions(spark, sf_dir)
    names = []
    for df, name in (
        (nodes, f"{prefix}_nodes"),
        (edges, f"{prefix}_edges"),
        (mentions, f"{prefix}_mentions"),
    ):
        df.createOrReplaceTempView(name)
        names.append(name)
    return names

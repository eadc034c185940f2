"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``kg_covid_19_spark`` package; this module is
pure wiring.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kg_covid_19_spark.plans.merged import MERGED_ORACLES, MERGED_QUERIES
from kg_covid_19_spark.plans.queries import KG_ORACLES, KG_QUERIES
from kg_covid_19_spark.operators.dedup import DEDUP_ORACLES, DEDUP_QUERIES
from kg_covid_19_spark.functions.textstats import TEXTSTATS_ORACLES, TEXTSTATS_QUERIES
from kg_covid_19_spark.operators.holdouts import HOLDOUT_ORACLES, HOLDOUT_QUERIES
from kg_covid_19_spark.streaming.events import EVENTS_ORACLES, EVENTS_QUERIES
from kg_covid_19_spark.operators.triples import TRIPLES_ORACLES, TRIPLES_QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG-construction pipeline → query-01 category counts."""
    return KG_QUERIES["kg_category_counts"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    out.update(KG_QUERIES)
    out.update(MERGED_QUERIES)
    out.update(DEDUP_QUERIES)
    out.update(TEXTSTATS_QUERIES)
    out.update(HOLDOUT_QUERIES)
    out.update(EVENTS_QUERIES)
    out.update(TRIPLES_QUERIES)
    return out


# Approximate sketches: no exact oracle exists, so only their row count
# is checked here; their error bounds are pinned by tests.
ROWS_ONLY = frozenset({
    "doc_dup_ngrams_approx",
    "evt_approx_user_counts",
    "txt_len_deciles_approx",
    "txt_top_tokens_approx",
})


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    out.update(KG_ORACLES)
    out.update(MERGED_ORACLES)
    out.update(DEDUP_ORACLES)
    out.update(TEXTSTATS_ORACLES)
    out.update(HOLDOUT_ORACLES)
    out.update(EVENTS_ORACLES)
    out.update(TRIPLES_ORACLES)
    return out

"""Ontology source — second KG source for the merge stage.

Reference analog: ontology_transform.py (obojson → node/edge TSVs) plus its
CHEBI exact-match mapping edges (ontology_transform.py:95-110). Our
dictionary IS the ontology (SURVEY.md S8: "ontology dictionary is
synthesized as a small DataFrame and broadcast"), so this source emits:

* one node per canonical gazetteer entity,
* one node per pre-normalization xref CURIE (category guessed from prefix,
  transform_utils.py:185-202),
* one biolink:same_as edge per SSSOM mapping, with a deterministic
  content-hash edge id replacing the reference's uuid1 (SURVEY.md C14).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dictionaries import (
    ONTO_PROVIDED_BY,
    SAME_AS_PREDICATE,
    SAME_AS_RELATION,
    SSSOM_MAP,
)
from ..functions.curie import content_edge_id, guess_bl_category
from ..plans.pipeline import gazetteer_nodes
from .corpus import local_frame


def ontology_nodes(spark: SparkSession) -> DataFrame:
    entity = gazetteer_nodes(spark).select(
        F.col("curie").alias("id"),
        "name",
        "category",
        F.lit(ONTO_PROVIDED_BY).alias("provided_by"),
    )
    sssom = local_frame(spark, SSSOM_MAP, "subject_id string, object_id string")
    xref = sssom.select(F.col("subject_id").alias("id")).distinct().select(
        "id",
        F.lit(None).cast("string").alias("name"),
        guess_bl_category(F.col("id")).alias("category"),
        F.lit(ONTO_PROVIDED_BY).alias("provided_by"),
    )
    return entity.unionByName(xref)


def ontology_edges(spark: SparkSession) -> DataFrame:
    sssom = local_frame(spark, SSSOM_MAP, "subject_id string, object_id string")
    return sssom.select(
        F.col("subject_id").alias("subject"),
        F.lit(SAME_AS_PREDICATE).alias("predicate"),
        F.col("object_id").alias("object"),
        F.lit(SAME_AS_RELATION).alias("relation"),
        F.lit(ONTO_PROVIDED_BY).alias("provided_by"),
        content_edge_id(F.col("subject_id"), F.col("object_id")).alias("edge_id"),
    )

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

The rows are built on the driver (the source is a constant), so each
frame is one ``LocalRelation`` and ``plans/merged.get_merged`` knows the
ontology's keys without a Spark job. They equal what
``functions.curie.guess_bl_category`` and ``content_edge_id`` compute
over the same constants.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from ..dictionaries import (
    ONTO_PROVIDED_BY,
    SAME_AS_PREDICATE,
    SAME_AS_RELATION,
    SSSOM_MAP,
    canonical_gazetteer,
    guess_category,
)
from .corpus import local_frame

NODE_SCHEMA = "id string, name string, category string, provided_by string"
EDGE_SCHEMA = (
    "subject string, predicate string, object string, relation string, "
    "provided_by string, edge_id string"
)


def ontology_node_rows() -> list[tuple]:
    entity = [(c, n, cat, ONTO_PROVIDED_BY) for c, n, cat in canonical_gazetteer()]
    xref = [
        (s, None, guess_category(s), ONTO_PROVIDED_BY)
        for s in sorted({s for s, _ in SSSOM_MAP})
    ]
    return entity + xref


def ontology_edge_rows() -> list[tuple]:
    return [
        (s, SAME_AS_PREDICATE, o, SAME_AS_RELATION, ONTO_PROVIDED_BY,
         hashlib.sha256(f"{s}|{o}".encode()).hexdigest())
        for s, o in SSSOM_MAP
    ]


def ontology_nodes(spark: SparkSession) -> DataFrame:
    return local_frame(spark, ontology_node_rows(), NODE_SCHEMA)


def ontology_edges(spark: SparkSession) -> DataFrame:
    return local_frame(spark, ontology_edge_rows(), EDGE_SCHEMA)

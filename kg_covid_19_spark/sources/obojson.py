"""Obograph-JSON ontology scan (S8) — real obojson files → (nodes, edges).

Reference: ontology_transform.py:48-71 delegates to
``kgx.cli.cli_utils.transform(input_format='obojson')`` for the four
ontology sources (hp.json, go-plus.json, mondo.json, chebi.json.gz,
ontology_transform.py:13-18); the CHEBI run then appends SSSOM
exact-match mapping edges + DrugCentral drug nodes
(ontology_transform.py:76-124).

Spark-first re-expression: ``spark.read.json`` with an explicit,
minimal Obograph schema (never inferred — SURVEY.md §1.2) + nested
explodes. Pinned observable contract (SURVEY.md §7.4 #4 — KGX's
internals are library-private, so we pin what the emitted TSVs show):

* node columns id, name, category, description, xref, synonym, iri,
  provided_by — id is the OBO-purl contraction of the IRI, xref/synonym
  are '|'-joined multi-values (C6), category guessed from the prefix
  (C4, transform_utils.py:185-202);
* edge columns id, subject, predicate, object, relation, provided_by —
  ``is_a`` maps to biolink:subclass_of / rdfs:subClassOf, anything else
  to biolink:related_to with the contracted pred as relation; edge id
  is a deterministic content hash (C14 — the reference's uuid1 at
  ontology_transform.py:103-104 is wall-clock nondeterministic).

Scale note: one obojson document is a single JSON value, so the
multiLine parse is one task per file — correct for ontologies, which
are dictionary-sized (MBs–low GBs) build inputs, not corpus tables.
Everything downstream of the parse is columnar and distributed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from ..dictionaries import SSSOM_MAP
from ..functions.curie import content_edge_id, guess_bl_category
from .corpus import local_frame

_SYN = StructType(
    [StructField("val", StringType()), StructField("pred", StringType())]
)
_VAL = StructType([StructField("val", StringType())])

OBO_SCHEMA = StructType(
    [
        StructField(
            "graphs",
            ArrayType(
                StructType(
                    [
                        StructField("id", StringType()),
                        StructField(
                            "nodes",
                            ArrayType(
                                StructType(
                                    [
                                        StructField("id", StringType()),
                                        StructField("lbl", StringType()),
                                        StructField("type", StringType()),
                                        StructField(
                                            "meta",
                                            StructType(
                                                [
                                                    StructField(
                                                        "definition", _VAL
                                                    ),
                                                    StructField(
                                                        "xrefs",
                                                        ArrayType(_VAL),
                                                    ),
                                                    StructField(
                                                        "synonyms",
                                                        ArrayType(_SYN),
                                                    ),
                                                    StructField(
                                                        "deprecated",
                                                        BooleanType(),
                                                    ),
                                                ]
                                            ),
                                        ),
                                    ]
                                )
                            ),
                        ),
                        StructField(
                            "edges",
                            ArrayType(
                                StructType(
                                    [
                                        StructField("sub", StringType()),
                                        StructField("pred", StringType()),
                                        StructField("obj", StringType()),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        )
    ]
)

IS_A = "is_a"
SUBCLASS_PREDICATE = "biolink:subclass_of"
SUBCLASS_RELATION = "rdfs:subClassOf"
RELATED_PREDICATE = "biolink:related_to"
EXACT_MATCH_PREDICATE = "biolink:exact_match"
EXACT_MATCH_RELATION = "skos:exactMatch"
DRUGCARD_IRI = "https://drugcentral.org/drugcard/"


def contract_obo(col: F.Column) -> F.Column:
    """OBO-purl IRI → CURIE: .../obo/MONDO_0005091 → MONDO:0005091.
    Non-purl IRIs keep the last path segment with the first '_' → ':'
    (Obograph ids are purls in practice); CURIEs pass through."""
    local = F.element_at(F.split(col, "/"), -1)
    contracted = F.regexp_replace(local, "_", ":")
    return F.when(col.rlike("^http[s]?://"), contracted).otherwise(col)


def read_obojson(spark: SparkSession, path: str) -> DataFrame:
    """One row per graph in the obojson file (gz handled transparently)."""
    return (
        spark.read.schema(OBO_SCHEMA)
        .option("multiLine", True)
        .json(path)
        .select(F.explode("graphs").alias("g"))
    )


def obojson_transform(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Parse one obojson ontology file into KGX (nodes, edges) frames."""
    provided_by = os.path.basename(path)
    graphs = read_obojson(spark, path)

    raw_nodes = graphs.select(F.explode("g.nodes").alias("n")).select(
        contract_obo(F.col("n.id")).alias("id"),
        F.col("n.lbl").alias("name"),
        F.col("n.id").alias("iri"),
        F.col("n.meta.definition.val").alias("description"),
        F.col("n.meta.xrefs.val").alias("xref_arr"),
        F.col("n.meta.synonyms.val").alias("syn_arr"),
    )
    nodes = raw_nodes.select(
        "id",
        "name",
        guess_bl_category(F.col("id")).alias("category"),
        "description",
        F.concat_ws("|", F.col("xref_arr")).alias("xref"),
        F.concat_ws("|", F.col("syn_arr")).alias("synonym"),
        "iri",
        F.lit(provided_by).alias("provided_by"),
    )

    raw_edges = graphs.select(F.explode("g.edges").alias("e")).select(
        contract_obo(F.col("e.sub")).alias("subject"),
        F.col("e.pred").alias("pred"),
        contract_obo(F.col("e.obj")).alias("object"),
    )
    is_a = F.col("pred") == IS_A
    edges = raw_edges.select(
        content_edge_id(
            F.concat_ws("|", "subject", "pred"), F.col("object")
        ).alias("id"),
        "subject",
        F.when(is_a, SUBCLASS_PREDICATE)
        .otherwise(RELATED_PREDICATE)
        .alias("predicate"),
        "object",
        F.when(is_a, F.lit(SUBCLASS_RELATION))
        .otherwise(contract_obo(F.col("pred")))
        .alias("relation"),
        F.lit(provided_by).alias("provided_by"),
    )
    return nodes, edges


def chebi_mapping_extras(
    spark: SparkSession,
    chebi_nodes: DataFrame,
    provided_by: str,
    sssom: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The CHEBI post-step (ontology_transform.py:76-124): for every
    parsed node with an SSSOM mapping, emit one biolink:exact_match edge
    (content-hash id, not uuid1 — C14) and one biolink:Drug node whose
    iri points at the DrugCentral drugcard. The SSSOM map is broadcast
    and the node side is semi-joined — no ontology-wide shuffle."""
    if sssom is None:
        sssom = local_frame(spark, SSSOM_MAP, "subject_id string, object_id string")
    sssom = F.broadcast(sssom.filter(F.col("object_id") != ""))
    mapped = chebi_nodes.select("id").join(
        sssom, F.col("id") == F.col("subject_id")
    )
    map_edges = mapped.select(
        F.concat(
            F.lit("urn:sha256:"),
            content_edge_id(F.col("subject_id"), F.col("object_id")),
        ).alias("id"),
        F.col("subject_id").alias("subject"),
        F.lit(EXACT_MATCH_PREDICATE).alias("predicate"),
        F.col("object_id").alias("object"),
        F.lit(EXACT_MATCH_RELATION).alias("relation"),
        F.lit(provided_by).alias("provided_by"),
    )
    map_nodes = mapped.select(
        F.col("object_id").alias("id"),
        F.lit(None).cast("string").alias("name"),
        F.lit("biolink:Drug").alias("category"),
        F.lit(None).cast("string").alias("description"),
        F.lit("").alias("xref"),
        F.lit("").alias("synonym"),
        F.concat(
            F.lit(DRUGCARD_IRI), F.element_at(F.split("object_id", ":"), -1)
        ).alias("iri"),
        F.lit(provided_by).alias("provided_by"),
    ).distinct()
    return map_nodes, map_edges


# reference ONTOLOGIES dict (ontology_transform.py:13-18)
ONTOLOGY_FILES = {
    "HpTransform": "hp.json",
    "GoTransform": "go-plus.json",
    "MondoTransform": "mondo.json",
    "ChebiTransform": "chebi.json.gz",
}


def ontology_file_transform(
    spark: SparkSession, input_dir: str, source: str
) -> tuple[DataFrame, DataFrame]:
    """Registry adapter: parse the source's default obojson file; the
    CHEBI entry also appends its SSSOM mapping nodes/edges."""
    data_file = ONTOLOGY_FILES[source]
    path = f"{input_dir}/{data_file}"
    nodes, edges = obojson_transform(spark, path)
    if source == "ChebiTransform":
        extra_nodes, extra_edges = chebi_mapping_extras(
            spark, nodes, data_file
        )
        nodes = nodes.unionByName(extra_nodes)
        edges = edges.unionByName(extra_edges)
    return nodes, edges

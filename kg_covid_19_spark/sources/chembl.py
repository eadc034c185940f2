"""ChEMBL source — Elasticsearch-export JSON records (SURVEY.md S5, C11).

Reference: kg_covid_19/transform_utils/chembl/chembl_transform.py — four
record families (molecules, assays, documents, activities), each an ES
envelope with a ragged ``_source`` payload; ``parse_doc_fields``
(chembl_transform.py:333-393) walks the nesting collecting an
allowed-property set with key remapping and '|'-joining of repeats.

Spark shape: ES exports are ragged (absent keys, nulls, nested variants),
which is exactly SURVEY §2.6 C11's "pandas UDF for ragged records" case —
one ``mapInPandas`` pass per family over per-record JSON strings, emitting
a FIXED declared column set (the reference computes its header dynamically
then sorts; the dynamic union over constant allowed-sets is itself a
constant, declared here).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .corpus import local_frame

SOURCE = "ChEMBL"
SUBSET = "SARS-CoV-2 subset"
PROVIDED_BY = f"{SOURCE} {SUBSET}"

TAXON_MAP = {
    "Severe acute respiratory syndrome coronavirus 2": "NCBITaxon:2697049",
    "SARS-CoV-2": "NCBITaxon:2697049",
}

ACTIVITY_ALLOWED = {
    "assay_organism", "assay_chembl_id", "document_chembl_id",
    "target_chembl_id", "target_organism", "target_pref_name",
    "molecule_chembl_id", "standard_units", "standard_type",
    "standard_relation", "standard_value", "uo_units",
}
ACTIVITY_REMAP = {
    "molecule_chembl_id": "subject",
    "target_chembl_id": "object",
    "document_chembl_id": "publications",
    "assay_chembl_id": "assay",
}
MOLECULE_ALLOWED = {
    "molecule_type", "polymer_flag", "inorganic_flag", "natural_product",
    "synonyms", "molecule_properties", "canonical_smiles",
    "full_molformula", "pref_name",
}
MOLECULE_REMAP = {
    "pref_name": "name",
    "full_molformula": "molecular_formula",
    "synonyms": "synonym",
}
ASSAY_ALLOWED = {
    "assay_type", "assay_tax_id", "assay_cell_type", "assay_tissue",
    "assay_strain", "description", "assay_chembl_id", "document_chembl_id",
    "tissue_chembl_id", "confidence_score", "bao_format", "bao_label",
}
ASSAY_REMAP = {
    "assay_cell_type": "cell_type",
    "assay_tissue": "tissue",
    "assay_strain": "strain",
    "assay_tax_id": "in_taxon",
    "document_chembl_id": "publications",
}
DOCUMENT_ALLOWED = {"title", "pubmed_id", "doi"}

# header union (the reference computes this dynamically then sorts —
# over constant allowed-sets it is a constant)
EDGE_COLS = sorted(
    {"id", "subject", "predicate", "object", "relation", "provided_by", "type"}
    | {ACTIVITY_REMAP.get(x, x) for x in ACTIVITY_ALLOWED}
)
NODE_COLS = sorted(
    {"id", "name", "category", "provided_by", "node_type"}
    | {MOLECULE_REMAP.get(x, x) for x in MOLECULE_ALLOWED}
    | {ASSAY_REMAP.get(x, x) for x in ASSAY_ALLOWED}
    | DOCUMENT_ALLOWED
)


def walk_doc_fields(record: dict, allowed: set, remap: dict | None = None) -> dict:
    """parse_doc_fields semantics (chembl_transform.py:333-393): collect
    allowed keys at any nesting depth, remap names, stringify scalars
    (falsy → ''), '|'-join repeated keys."""
    props: dict = {}

    def put(key: str, value):
        if key in props:
            if isinstance(props[key], str):
                props[key] = [props[key]]
            props[key].append(value)
        else:
            props[key] = value

    for k, v in record.items():
        if isinstance(v, dict):
            if k in allowed:
                for k2, v2 in v.items():
                    put(remap[k2] if remap and k2 in remap else k2, v2)
            else:
                for k2, v2 in walk_doc_fields(v, allowed, remap).items():
                    put(k2, v2)
        elif isinstance(v, list):
            if k in allowed:
                put(remap[k] if remap and k in remap else k, str(v) if v else "")
            elif v and isinstance(v[0], dict):
                for x in v:
                    for k2, v2 in walk_doc_fields(x, allowed, remap).items():
                        put(k2, v2)
        else:
            if k in allowed:
                put(remap[k] if remap and k in remap else k, str(v) if v else "")
    return {k: ("|".join(v) if isinstance(v, list) else v) for k, v in props.items()}


def parse_activity(source: dict) -> dict:
    e = walk_doc_fields(source, ACTIVITY_ALLOWED, ACTIVITY_REMAP)
    e["id"] = str(source["activity_id"])
    e["predicate"] = "biolink:interacts_with"
    e["relation"] = "RO:0002436"
    e["subject"] = f"CHEMBL.COMPOUND:{e['subject']}"
    e["object"] = f"CHEMBL.TARGET:{e['object']}"
    if e.get("target_organism") in TAXON_MAP:
        e["object"] = TAXON_MAP[e["target_organism"]]
    e["assay"] = f"CHEMBL.ASSAY:{e['assay']}"
    if e.get("uo_units"):
        e["uo_units"] = e["uo_units"].replace("_", ":")
    e["provided_by"] = PROVIDED_BY
    e["type"] = "biolink:Association"
    return e


def parse_molecule(source: dict) -> dict:
    n = walk_doc_fields(source, MOLECULE_ALLOWED, MOLECULE_REMAP)
    n["category"] = "biolink:Drug"
    n["id"] = f"CHEMBL.COMPOUND:{source['molecule_chembl_id']}"
    n["provided_by"] = PROVIDED_BY
    return n


def parse_assay(source: dict) -> dict:
    n = walk_doc_fields(source, ASSAY_ALLOWED, ASSAY_REMAP)
    n["id"] = f"CHEMBL.ASSAY:{source['assay_chembl_id']}"
    n["category"] = "biolink:Assay"
    n["node_type"] = "SIO:001007"
    if n.get("bao_format"):
        n["bao_format"] = n["bao_format"].replace("_", ":")
    n["provided_by"] = PROVIDED_BY
    return n


def parse_document(source: dict) -> dict:
    n = walk_doc_fields(source, DOCUMENT_ALLOWED)
    if n.get("pubmed_id"):
        n["id"] = f"PMID:{n['pubmed_id']}"
    elif n.get("doi"):
        n["id"] = f"DOI:{n['doi']}"
    else:
        n["id"] = f"CHEMBL.DOCUMENT:{source['document_chembl_id']}"
    n["category"] = "biolink:Publication"
    n["provided_by"] = PROVIDED_BY
    return n


def _schema(cols: list[str]) -> StructType:
    return StructType([StructField(c, StringType(), True) for c in cols])


def records_frame(spark: SparkSession, path: str) -> DataFrame:
    """One row per ES record (JSON string). Handles both a whole-file JSON
    array (the fixture shape) and JSONL exports."""
    files = spark.read.format("binaryFile").load(path).select("content")

    def split(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[str] = []
            for data in pdf["content"]:
                text = bytes(data).decode("utf-8").strip()
                if text.startswith("["):
                    rows.extend(json.dumps(r) for r in json.loads(text))
                else:
                    rows.extend(ln for ln in text.splitlines() if ln.strip())
            yield pd.DataFrame({"record": rows})

    return files.mapInPandas(split, "record string")


def _family_frame(spark: SparkSession, path: str, parser, cols: list[str],
                  ) -> DataFrame:
    schema = _schema(cols)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rec in pdf["record"]:
                d = parser(json.loads(rec)["_source"])
                out.append([d.get(c, "") for c in cols])
            yield pd.DataFrame(out, columns=cols)

    return records_frame(spark, path).mapInPandas(parse, schema)


def chembl_transform(spark: SparkSession, files: dict[str, str],
                     sssom_df: DataFrame | None = None,
                     ) -> tuple[DataFrame, DataFrame]:
    """files: keys molecules_data / assay_data / document_data /
    activity_data → (nodes, edges) with the reference's sorted headers.

    ``sssom_df`` (subject_id, object_id): molecule node ids are
    SSSOM-normalized exactly like the reference's ``normalize_curies``
    over molecule_nodes (chembl_transform.py:91-94) — broadcast left
    join + coalesce, identity on miss (normalize_utils.py:36-44). The
    reference's map file is absent from its own tree, so the default is
    the identity."""
    molecules = _family_frame(spark, files["molecules_data"], parse_molecule, NODE_COLS)
    if sssom_df is not None:
        molecules = (
            molecules.join(
                F.broadcast(
                    sssom_df.select(
                        F.col("subject_id").alias("id"),
                        F.col("object_id").alias("_norm"),
                    )
                ),
                "id",
                "left",
            )
            .withColumn("id", F.coalesce(F.col("_norm"), F.col("id")))
            .drop("_norm")
            .select(*NODE_COLS)
        )
    assays = _family_frame(spark, files["assay_data"], parse_assay, NODE_COLS)
    documents = _family_frame(spark, files["document_data"], parse_document, NODE_COLS)
    edges = _family_frame(spark, files["activity_data"], parse_activity, EDGE_COLS)

    taxa = {v: k for k, v in TAXON_MAP.items()}
    taxon_rows = [
        tuple(
            {"id": curie, "name": name, "category": "biolink:OrganismTaxon",
             "provided_by": PROVIDED_BY}.get(c, "")
            for c in NODE_COLS
        )
        for curie, name in taxa.items()
    ]
    taxon_nodes = local_frame(spark, taxon_rows, _schema(NODE_COLS))

    nodes = molecules.unionByName(assays).unionByName(documents).unionByName(
        taxon_nodes
    )
    return nodes, edges

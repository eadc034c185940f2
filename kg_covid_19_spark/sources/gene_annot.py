"""SARS-CoV-2 gene-annotation source — GPI/GPA flat files (SURVEY.md S10).

Reference: kg_covid_19/transform_utils/sars_cov_2_gene_annot/
sars_cov_2_gene_annot.py:69-307 — a node per GPI 1.2 record, an edge per
GPA 1.1 record, plus bare nodes (category guessed from the CURIE prefix)
for GPA endpoints that no GPI record declared.

Quirks reproduced for parity:
* the reference's GPA iterator names field 10 "Annotation Extension" but
  the edge builder fetches "Annotation_Extension" — so that column is
  always '' (sars_cov_2_gene_annot.py:137-155 vs 289);
* DB_Object_Synonym and DB_Xref pass through unsplit (split→'|'.join is
  the identity on the raw string);
* Interacting_taxon_ID is prefixed NCBITaxon: only when non-empty.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.curie import guess_bl_category
from .corpus import local_frame

SOURCE = "sars_cov_2_gene_annot"

NODE_COLS = ["id", "name", "category", "full_name", "synonym", "in_taxon",
             "xrefs", "provided_by"]
EDGE_COLS = ["subject", "predicate", "object", "relation", "provided_by",
             "type", "DB_References", "ECO_code", "With",
             "Interacting_taxon_ID", "Date", "Assigned_by",
             "Annotation_Extension", "Annotation_Properties"]

QUALIFIER_RO = {
    "enables": "RO:0002327",
    "involved_in": "RO:0002331",
    "part_of": "BFO:0000050",
}


def _records(spark: SparkSession, path: str) -> DataFrame:
    """Comment-skipping tab-split record frame (F7)."""
    return (
        spark.read.text(path)
        .filter(~F.col("value").startswith("!"))
        .withColumn("c", F.split(F.col("value"), "\t"))
        .filter(F.size("c") > 1)
    )


def _f(i: int) -> Column:
    # try_element_at: GPI/GPA rows legitimately vary in trailing fields
    return F.coalesce(F.try_element_at("c", F.lit(i + 1)), F.lit(""))


def _first_pipe(i: int) -> Column:
    return F.coalesce(F.split(_f(i), r"\|").getItem(0), F.lit(""))


def gpi_nodes(spark: SparkSession, gpi_path: str) -> DataFrame:
    return _records(spark, gpi_path).select(
        F.concat(_f(0), F.lit(":"), _f(1)).alias("id"),
        _first_pipe(2).alias("name"),
        F.lit("biolink:Protein").alias("category"),
        _first_pipe(3).alias("full_name"),
        _f(4).alias("synonym"),
        F.concat(F.lit("NCBITaxon:"), F.split(_f(6), ":").getItem(1))
        .alias("in_taxon"),
        _f(8).alias("xrefs"),
        F.lit(SOURCE).alias("provided_by"),
    )


def gpa_edges(spark: SparkSession, gpa_path: str) -> DataFrame:
    qualifier = _first_pipe(2)
    relation: Column = F.lit("")
    for q, ro in QUALIFIER_RO.items():
        relation = F.when(qualifier == q, F.lit(ro)).otherwise(relation)
    taxon = F.when(
        _f(7) != "", F.concat(F.lit("NCBITaxon:"), _f(7))
    ).otherwise(F.lit(""))
    return _records(spark, gpa_path).select(
        F.concat(_f(0), F.lit(":"), _f(1)).alias("subject"),
        F.concat(F.lit("biolink:"), qualifier).alias("predicate"),
        _f(3).alias("object"),
        relation.alias("relation"),
        F.lit(SOURCE).alias("provided_by"),
        F.lit("biolink:Association").alias("type"),
        _first_pipe(4).alias("DB_References"),
        _f(5).alias("ECO_code"),
        _first_pipe(6).alias("With"),
        taxon.alias("Interacting_taxon_ID"),
        _f(8).alias("Date"),
        _f(9).alias("Assigned_by"),
        F.lit("").alias("Annotation_Extension"),  # reference key-mismatch quirk
        _f(11).alias("Annotation_Properties"),
    )


def gene_annot_transform(spark: SparkSession, gpi_path: str, gpa_path: str,
                         ) -> tuple[DataFrame, DataFrame]:
    nodes = gpi_nodes(spark, gpi_path)
    edges = gpa_edges(spark, gpa_path)
    endpoints = (
        edges.select(F.col("subject").alias("id"))
        .unionAll(edges.select(F.col("object").alias("id")))
        .distinct()
    )
    bare = (
        endpoints.join(nodes.select("id"), "id", "left_anti")
        .select(
            "id",
            F.lit("").alias("name"),
            guess_bl_category(F.col("id")).alias("category"),
            F.lit("").alias("full_name"),
            F.lit("").alias("synonym"),
            F.lit("").alias("in_taxon"),
            F.lit("").alias("xrefs"),
            F.lit(SOURCE).alias("provided_by"),
        )
    )
    return nodes.unionByName(bare).select(*NODE_COLS), edges.select(*EDGE_COLS)


# ---------------------------------------------------------------------------
# curated/ORFs synonym-overlap report
# (reference: curated/ORFs/merge_KGCOVID_COVIDscholar_syns.py — a
# standalone curation QA script whose committed .out is the golden)
# ---------------------------------------------------------------------------

def synonym_overlap(
    spark: SparkSession, gpi_path: str, scholar_path: str
) -> tuple[DataFrame, DataFrame]:
    """Compare GPI gene synonyms against a curated synonym list.

    Reproduces merge_KGCOVID_COVIDscholar_syns.py exactly: each GPI
    record's gene name (field 3) is looked up in the FIRST scholar line
    whose ', '-split token list contains it; the report is the
    synonym-set difference both ways ('kg_only' = GPI synonyms missing
    from that line, 'cs_only' = line tokens missing from the GPI list,
    skipping '('-prefixed tokens), plus a (n_matched, n_total) summary.
    Returns (summary_df, diff_df).

    The scholar list is a curated file of a few dozen lines, read on
    the driver so the script's first-match-by-file-order rule is exact;
    the GPI side and all set algebra are DataFrame ops."""
    recs = (
        spark.read.text(gpi_path)
        .filter(~F.col("value").startswith("!"))
        .select(F.split("value", "\t").alias("f"))
        # F.get (0-based, null-safe), not element_at: GPI rows can have
        # fewer trailing fields (same reason gpi_nodes uses
        # try_element_at) and ANSI element_at would throw
        .select(
            F.get("f", 2).alias("gene_name"),
            F.split(
                F.regexp_replace(F.get("f", 4), "\n", ""), r"\|"
            ).alias("syns"),
        )
        .filter(F.col("gene_name").isNotNull())
    )
    with open(scholar_path) as fh:
        scholar_rows = [
            (i, line.replace("\n", "").split(", "))
            for i, line in enumerate(fh)
        ]
    scholar = local_frame(spark, scholar_rows, "line_id int, names array<string>")
    hits = (
        scholar.select("line_id", F.explode("names").alias("gene_name"))
        .groupBy("gene_name")
        .agg(F.min("line_id").alias("line_id"))
    )
    matched = (
        recs.join(F.broadcast(hits), "gene_name", "left")
        .join(F.broadcast(scholar), "line_id", "left")
    )
    summary = matched.agg(
        F.count(F.col("line_id")).alias("n_matched"),
        F.count("*").alias("n_total"),
    )
    kg_only = (
        matched.filter(F.col("line_id").isNotNull())
        .select("gene_name", F.explode("syns").alias("syn"), "names")
        .filter(~F.array_contains(F.col("names"), F.col("syn")))
        .select("gene_name", "syn", F.lit("kg_only").alias("side"))
    )
    cs_only = (
        matched.filter(F.col("line_id").isNotNull())
        .select("gene_name", "syns", F.explode("names").alias("syn"))
        .filter(
            ~F.array_contains(F.col("syns"), F.col("syn"))
            & ~F.col("syn").startswith("(")
        )
        .select("gene_name", "syn", F.lit("cs_only").alias("side"))
    )
    return summary, kg_only.unionByName(cs_only)

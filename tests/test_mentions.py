"""Mention expression unit tests (token rule + term-map windows)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kg_covid_19_spark.operators.mentions import curies

ENTRIES = [
    ("spark", "HGNC:11219", "SPARK", "biolink:Gene"),
    ("data frame", "GO:0001", "dataframe process", "biolink:OntologyClass"),
    ("big data frame", "GO:0002", "bigger", "biolink:OntologyClass"),
]


def _curies(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    found = df.select(curies(F.col("text"), ENTRIES).alias("c"))
    return [r.c for r in found.collect()]


def test_unigram_and_phrase_matching(spark):
    got = _curies(spark, ["the Spark big data frame; a data   frame again"])
    assert got == [["GO:0001", "GO:0002", "HGNC:11219"]]


def test_per_doc_dedup_first_span_kept(spark):
    # per-document dedup: a repeated term yields its curie once
    assert _curies(spark, ["spark spark spark"]) == [["HGNC:11219"]]


def test_empty_and_none(spark):
    assert _curies(spark, ["", "nothing matches here", None]) == [[], [], []]


def test_with_mentions_explode(spark):
    df = spark.createDataFrame(
        [(1, "spark and a data frame"), (2, "no hits"), (3, None)],
        "doc_id int, text string",
    )
    out = df.select(
        "doc_id", F.explode(curies(F.col("text"), ENTRIES)).alias("curie")
    )
    rows = {(r.doc_id, r.curie) for r in out.collect()}
    assert rows == {(1, "HGNC:11219"), (1, "GO:0001")}


def test_determinism_across_parallelism(spark):
    """Same mentions regardless of partitioning (SURVEY.md §5 item 4)."""
    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("spark data frame doc "), F.col("id").cast("string")).alias(
            "text"
        ),
    )

    def mentions(frame):
        return frame.select(
            "doc_id", F.explode(curies(F.col("text"), ENTRIES)).alias("curie")
        )

    ra = sorted((r.doc_id, r.curie) for r in mentions(df.repartition(1)).collect())
    rb = sorted((r.doc_id, r.curie) for r in mentions(df.repartition(16)).collect())
    assert ra == rb and len(ra) == 400

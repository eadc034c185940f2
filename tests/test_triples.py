"""OpenIE-style triple extraction (operators/triples.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kg_covid_19_spark.operators.triples import (
    MAX_GAP,
    doc_triples,
    kg_openie_triples,
    triples,
)

from conftest import SF_DIR


def test_openie_shape_and_canonical_endpoints(spark):
    rows = kg_openie_triples(spark, SF_DIR).collect()
    assert rows
    assert all(r.predicate.startswith("rel:") for r in rows)
    # predicate span respects the ReVerb-lite gap bound
    assert all(
        1 <= len(r.predicate[4:].split("_")) <= MAX_GAP for r in rows
    )
    assert all(r.subject != r.object for r in rows)
    # endpoints are canonical gazetteer curies
    from kg_covid_19_spark.dictionaries import normalized_gazetteer

    canon = {c for _t, c, _n, _cat in normalized_gazetteer()}
    assert all(r.subject in canon and r.object in canon for r in rows)


def test_openie_udf_golden(spark):
    entries = [
        ("aspirin", "CHEBI:15365", "aspirin", "biolink:Drug"),
        ("fever", "MONDO:0005091", "fever", "biolink:Disease"),
    ]
    df = spark.createDataFrame(
        [("Aspirin strongly reduces fever. aspirin fever.",)], "text string"
    )
    got = df.select(triples(F.col("text"), entries).alias("t")).collect()[0].t
    # adjacent pair (gap 0) in the 2nd sentence is rejected
    assert [tuple(x) for x in got] == [
        ("CHEBI:15365", "rel:strongly_reduces", "MONDO:0005091")
    ]


def test_openie_deterministic_across_parallelism(spark):
    a = sorted(tuple(r) for r in doc_triples(spark, SF_DIR).repartition(1).collect())
    b = sorted(tuple(r) for r in doc_triples(spark, SF_DIR).repartition(8).collect())
    assert a == b


def test_sentence_cooc_is_subset_of_doc_cooc(spark):
    from kg_covid_19_spark.operators.triples import kg_sentence_cooc
    from kg_covid_19_spark.plans.pipeline import get_mentions

    sc = {(r.curie_a, r.curie_b) for r in kg_sentence_cooc(spark, SF_DIR).collect()}
    assert sc
    # a pair co-occurring in one sentence co-occurs in that document
    m = get_mentions(spark, SF_DIR)
    doc_terms = {}
    for r in m.collect():
        doc_terms.setdefault(r.doc_id, set()).add(r.curie)
    doc_pairs = {
        (a, b)
        for terms in doc_terms.values()
        for a in terms
        for b in terms
        if a < b
    }
    assert sc <= doc_pairs

"""Scalar-function goldens, mirroring tests/test_transform_utils.py:14-37."""

from __future__ import annotations

from pyspark.sql import functions as F

from kg_covid_19_spark.functions import curie as C


def _eval(spark, expr, value):
    return (
        spark.createDataFrame([(value,)], "v string")
        .select(expr(F.col("v")).alias("r"))
        .first()["r"]
    )


def test_collapse_uniprot_curie(spark):
    # goldens from tests/test_transform_utils.py:26-37
    cases = {
        "foobar": "foobar",
        "UniProtKB:P63151-1": "UniProtKB:P63151",
        "uniprotkb:P63151-2": "uniprotkb:P63151",
        "UniProtKB:P63151": "UniProtKB:P63151",
        "ENSEMBL:ENSG00000245105-1": "ENSEMBL:ENSG00000245105-1",
    }
    for inp, want in cases.items():
        assert _eval(spark, C.collapse_uniprot_curie, inp) == want


def test_guess_bl_category(spark):
    # goldens from tests/test_transform_utils.py:14-24 + our prefix universe
    cases = {
        "UniProtKB:P63151": "biolink:Protein",
        "ComplexPortal:CPX-1": "biolink:Protein",
        "GO:0008150": "biolink:OntologyClass",
        "MONDO:0005091": "biolink:Disease",
        "CHEBI:28304": "biolink:Drug",
        "XXX:111": "biolink:NamedThing",
    }
    for inp, want in cases.items():
        assert _eval(spark, C.guess_bl_category, inp) == want


def test_is_curie_is_iri(spark):
    assert _eval(spark, C.is_curie, "MONDO:0005091")
    assert not _eval(spark, C.is_curie, "http://x.org/1")
    assert _eval(spark, C.is_iri, "https://x.org/1")


def test_get_identifier_by_prefix(spark):
    got = _eval(
        spark, lambda c: C.get_identifier_by_prefix(c, "HGNC:"), "MIM:1|HGNC:HGNC:5|x"
    )
    assert got == "HGNC:5"


def test_scrub_whitespace(spark):
    assert _eval(spark, C.scrub_whitespace, "a\nb\tc") == "a b c"


def test_fix_underscore_and_xml(spark):
    assert _eval(spark, C.fix_underscore_curie, "UO_0000022") == "UO:0000022"
    assert _eval(spark, C.strip_xml_suffix, "PMC123.xml") == "PMC123"


def test_content_edge_id_deterministic(spark):
    a = _eval(spark, lambda c: C.content_edge_id(c, F.lit("B")), "A")
    b = _eval(spark, lambda c: C.content_edge_id(c, F.lit("B")), "A")
    assert a == b and len(a) == 64


def test_len_deciles_approx_brackets_exact(spark):
    """The percentile_approx twin must agree with the exact discrete
    deciles to within one decile bracket per (lang, decile) — the
    accuracy contract that replaces the value-hash oracle the sketch
    can't have (approx_quantile sketches differ across engines by
    design)."""
    from conftest import SF_DIR

    from kg_covid_19_spark.functions.textstats import (
        txt_len_deciles,
        txt_len_deciles_approx,
    )

    exact = {
        (r.lang, r.decile): r.value
        for r in txt_len_deciles(spark, SF_DIR).collect()
    }
    approx = {
        (r.lang, r.decile): r.value
        for r in txt_len_deciles_approx(spark, SF_DIR).collect()
    }
    assert set(approx) == set(exact)
    for (lang, k), v in approx.items():
        lo = exact[(lang, max(k - 1, 0))]
        hi = exact[(lang, min(k + 1, 10))]
        assert lo <= v <= hi, (lang, k, v, lo, hi)


def test_approx_user_counts_within_tolerance(spark):
    """HLL estimate per event_type must land within 3·rsd (6%) of the
    exact distinct count — the accuracy contract standing in for the
    value-hash oracle a sketch can't have."""
    from conftest import SF_DIR

    from kg_covid_19_spark.streaming.events import (
        _events,
        evt_approx_user_counts,
    )

    approx = {
        r.event_type: r.n_users_approx
        for r in evt_approx_user_counts(spark, SF_DIR).collect()
    }
    exact = {
        r.event_type: r.n
        for r in _events(spark, SF_DIR)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for et, n in exact.items():
        assert abs(approx[et] - n) <= max(3, 0.06 * n), (et, approx[et], n)


def test_top_tokens_approx_equals_exact_when_capacity_suffices(spark):
    """With MG_CAPACITY above every partition's vocabulary the
    Misra-Gries reduction never fires, counts stay exact, and the
    approx twin must equal txt_top_tokens row-for-row — the strong
    half of the accuracy contract that replaces the value-hash oracle
    a partition-dependent summary can't have."""
    from conftest import SF_DIR

    from kg_covid_19_spark.functions.textstats import (
        txt_top_tokens,
        txt_top_tokens_approx,
    )

    exact = [(r.token, r.n) for r in txt_top_tokens(spark, SF_DIR).collect()]
    approx = [
        (r.token, r.n_est)
        for r in txt_top_tokens_approx(spark, SF_DIR).collect()
    ]
    assert approx == exact


def test_top_tokens_approx_misra_gries_undercount_bracket(spark):
    """Planted skewed stream with a capacity far below the vocabulary:
    the heavy hitter must surface with a LOWER-bound count within the
    Misra-Gries undercount guarantee N/(capacity+1), and never an
    overcount."""
    from kg_covid_19_spark.functions.textstats import (
        _top_tokens_approx_frame,
    )

    n_hh, n_noise, cap = 1000, 2000, 16
    rows = [("hh",)] * n_hh + [(f"noise{i:05d}",) for i in range(n_noise)]
    toks = spark.createDataFrame(rows, "token string").repartition(4)
    got = {
        r.token: r.n_est
        for r in _top_tokens_approx_frame(toks, cap, 5).collect()
    }
    n_total = n_hh + n_noise
    assert "hh" in got
    assert got["hh"] <= n_hh  # lower bound: never overcounts
    assert got["hh"] >= n_hh - n_total // (cap + 1), got["hh"]


def test_bigram_lm_scores_hand_computed_micro_corpus(spark):
    """Hand-verified LM arithmetic plus the two semantic claims:
    duplicated documents have zero corpus-unique bigrams (n_singleton
    is the inverse-duplication signal) and a one-off document's
    bigrams are all singletons."""
    from kg_covid_19_spark.functions.textstats import bigram_lm_frame

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b a b"), (3, "x y z")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["mean_p_ppm"], r["n_singleton"])
        for r in bigram_lm_frame(docs).collect()
    }
    # corpus bigrams: doc1/doc2 each contribute (a,b)x2, (b,a)x1;
    # doc3 contributes (x,y), (y,z).
    # C2: (a,b)=4 (b,a)=2 (x,y)=1 (y,z)=1; C1: a=4 b=2 x=1 y=1; V=5.
    # doc1 terms: (a,b): (4+1)*1e6 // (4+5) = 555555  (x2)
    #             (b,a): (2+1)*1e6 // (2+5) = 428571
    # mean = (555555*2 + 428571) // 3 = 513227
    assert got[1] == (3, (555_555 * 2 + 428_571) // 3, 0)
    assert got[2] == got[1]
    # doc3: (x,y): 2*1e6 // (1+5) = 333333 (x2 terms, both singleton)
    assert got[3] == (2, 333_333, 2)

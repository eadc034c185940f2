"""Property-based (hypothesis) differential tests: the JVM column
expressions in functions/curie.py and the SciBite/RDF contraction chains
must agree with straightforward Python models of the reference semantics
on arbitrary inputs — the same differential-oracle idea as the driver's
DuckDB gate, pushed down to the scalar-function layer (C1-C14)."""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kg_covid_19_spark.functions.curie import (
    collapse_uniprot_curie,
    fix_underscore_curie,
    pipe_join,
    pipe_split,
    scrub_whitespace,
    strip_xml_suffix,
)
from kg_covid_19_spark.sources.rdf import GOCAM_CMAP, contract_iri

SET = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

# printable-ish strings without surrogates; Spark/Arrow handle these fine
text_st = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
    max_size=40,
)
curie_ish = st.one_of(
    text_st,
    st.from_regex(r"(?i)uniprotkb:[A-Z0-9]{1,8}(-[0-9]{1,3})?", fullmatch=True),
    st.from_regex(r"[A-Za-z]{2,10}:[A-Za-z0-9._-]{1,12}", fullmatch=True),
)


def _eval(spark, values, expr_fn):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [r.out for r in df.select(expr_fn(F.col("v")).alias("out")).collect()]


@SET
@given(st.lists(curie_ish, min_size=1, max_size=60))
def test_collapse_uniprot_matches_reference_model(spark, values):
    # model: utils/transform_utils.py:205-218
    def model(s):
        if s.lower().startswith("uniprotkb:"):
            return re.sub(r"-\d+$", "", s)
        return s

    assert _eval(spark, values, collapse_uniprot_curie) == [
        model(v) for v in values
    ]


@SET
@given(st.lists(curie_ish, min_size=1, max_size=60))
def test_collapse_uniprot_is_idempotent(spark, values):
    once = _eval(spark, values, collapse_uniprot_curie)
    twice = _eval(
        spark, once, collapse_uniprot_curie
    )
    assert once == twice


@SET
@given(st.lists(text_st, min_size=1, max_size=60))
def test_scrub_whitespace_model(spark, values):
    assert _eval(spark, values, scrub_whitespace) == [
        re.sub(r"[\n\t]", " ", v) for v in values
    ]


@SET
@given(
    st.lists(
        st.lists(
            st.text(
                alphabet=st.characters(
                    whitelist_categories=("Lu", "Ll", "Nd")
                ),
                min_size=1,
                max_size=8,
            ),
            min_size=1,
            max_size=5,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_pipe_join_split_roundtrip(spark, lists):
    # C6 roundtrip on pipe-free tokens (the reference's invariant domain)
    joined = ["|".join(toks) for toks in lists]
    df = spark.createDataFrame([(v,) for v in joined], "v string")
    got = [
        r.out
        for r in df.select(pipe_split(F.col("v")).alias("out")).collect()
    ]
    assert got == lists
    df2 = spark.createDataFrame([(v,) for v in lists], "v array<string>")
    rejoined = [
        r.out for r in df2.select(pipe_join(F.col("v")).alias("out")).collect()
    ]
    assert rejoined == joined


@SET
@given(st.lists(text_st, min_size=1, max_size=60))
def test_strip_xml_suffix_model(spark, values):
    assert _eval(spark, values, strip_xml_suffix) == [
        re.sub(r"\.xml$", "", v) for v in values
    ]


@SET
@given(st.lists(text_st, min_size=1, max_size=60))
def test_fix_underscore_model(spark, values):
    assert _eval(spark, values, fix_underscore_curie) == [
        v.replace("_", ":") for v in values
    ]


_iri_st = st.one_of(
    st.sampled_from(list(GOCAM_CMAP.values())).flatmap(
        lambda base: st.from_regex(r"[A-Za-z0-9._-]{1,12}", fullmatch=True).map(
            lambda suf: base + suf
        )
    ),
    st.from_regex(r"http://unknown\.example/[A-Za-z0-9]{1,10}", fullmatch=True),
)


@SET
@given(st.lists(_iri_st, min_size=1, max_size=60))
def test_contract_iri_longest_prefix_model(spark, iris):
    def model(iri):
        best = None
        for prefix, base in GOCAM_CMAP.items():
            if iri.startswith(base) and (
                best is None or len(base) > len(best[1])
            ):
                best = (prefix, base)
        if best is None:
            return iri
        return f"{best[0]}:{iri[len(best[1]):]}"

    assert _eval(spark, iris, contract_iri) == [model(i) for i in iris]


# --- mention-kernel differential properties ----------------------------

_term_st = st.from_regex(r"[abc]{1,4}", fullmatch=True)
_phrase_st = st.lists(_term_st, min_size=2, max_size=3).map(" ".join)
# upper case and non-ASCII letters whose lower() changes the tokens
# (İ lowers to i + a combining dot, the Kelvin sign to k) pin the
# engine's lower() to Python's
_doc_st = st.text(alphabet="abcAB -.\u0130\u212a", max_size=60)


def _model_find(entries, text):
    """Naive reference matcher: token-equality scan with per-doc curie
    dedup in first-occurrence order (scibite_cord.py:187-188 semantics)."""
    toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
    by_toks = {}
    max_len = 1
    for term, curie, _n, _c in entries:
        tt = tuple(x for x in re.split(r"[^a-z0-9]+", term.lower()) if x)
        if tt:
            by_toks[tt] = curie
            max_len = max(max_len, len(tt))
    seen, out = set(), []
    for i in range(len(toks)):
        for L in range(1, max_len + 1):
            key = tuple(toks[i:i + L])
            if len(key) < L:
                break
            c = by_toks.get(key)
            if c is not None and c not in seen:
                seen.add(c)
                out.append(c)
    return out


@SET
@given(
    st.lists(_term_st, min_size=1, max_size=8, unique=True),
    st.lists(_doc_st, min_size=1, max_size=25),
)
def test_unigram_kernel_matches_model(spark, terms, docs):
    from kg_covid_19_spark.operators.mentions import curies

    entries = [(t, f"X:{i}", t, "biolink:NamedThing")
               for i, t in enumerate(terms)]
    docs = docs + [None]
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    found = df.select(curies(F.col("text"), entries).alias("c"))
    got = [r.c for r in found.collect()]
    want = [sorted(set(_model_find(entries, d or ""))) for d in docs]
    assert got == want


@SET
@given(
    st.lists(_term_st, min_size=1, max_size=5, unique=True),
    st.lists(_phrase_st, min_size=1, max_size=3, unique=True),
    st.lists(_doc_st, min_size=1, max_size=20),
)
def test_phrase_kernel_matches_model(spark, unis, phrases, docs):
    from kg_covid_19_spark.operators.mentions import curies

    all_terms = list(dict.fromkeys(unis + phrases))
    entries = [(t, f"X:{i}", t, "biolink:NamedThing")
               for i, t in enumerate(all_terms)]
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    found = df.select(curies(F.col("text"), entries).alias("c"))
    got = [r.c for r in found.collect()]
    want = [sorted(set(_model_find(entries, d))) for d in docs]
    assert got == want


@SET
@given(st.lists(_doc_st, min_size=4, max_size=24))
def test_kernel_invariant_to_partitioning(spark, docs):
    from kg_covid_19_spark.operators.mentions import curies

    entries = [("a", "X:0", "a", "c"), ("bc", "X:1", "bc", "c"),
               ("ab c", "X:2", "ab c", "c")]
    found = curies(F.col("text"), entries).alias("c")
    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "i long, text string")
    one = df.repartition(1).select("i", found)
    many = df.repartition(8).select("i", found)
    assert sorted((r.i, tuple(r.c)) for r in one.collect()) == sorted(
        (r.i, tuple(r.c)) for r in many.collect()
    )


@given(
    texts=st.lists(
        st.text(
            alphabet="abc@. 0123456789+-",
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
@SET
def test_redact_pii_idempotent(spark, texts):
    """Redaction placeholders must never themselves match a PII pattern
    (redact(redact(t)) == redact(t))."""
    from kg_covid_19_spark.functions.textstats import redact_pii

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    once = df.select(redact_pii(F.col("t")).alias("r1"))
    twice = once.select(
        F.col("r1"), redact_pii(F.col("r1")).alias("r2")
    ).collect()
    for r in twice:
        assert r["r1"] == r["r2"], r


@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**12),
                 min_size=1, max_size=10),
    n=st.integers(min_value=1, max_value=1_000_000),
)
@SET
def test_hash_mod_range_and_partition_invariance(spark, ids, n):
    """The shared deterministic gate (functions/hashing.py) lands in
    [0, n) and never depends on partitioning."""
    from kg_covid_19_spark.functions.hashing import hash_mod

    df = spark.createDataFrame([(i,) for i in ids], "v long")
    a = sorted(
        (r["v"], r["h"])
        for r in df.select("v", hash_mod("t", F.col("v"), n).alias("h")).collect()
    )
    b = sorted(
        (r["v"], r["h"])
        for r in df.repartition(7)
        .select("v", hash_mod("t", F.col("v"), n).alias("h"))
        .collect()
    )
    assert a == b
    assert all(0 <= h < n for _, h in a)


@given(
    locals_=st.lists(
        st.from_regex(r"[0-9]{1,7}", fullmatch=True), min_size=1, max_size=8
    )
)
@SET
def test_obo_purl_contraction_roundtrip(spark, locals_):
    """contract_obo(OBO purl) → CURIE whose expand_curie inverse (OBO
    rule) reproduces the purl — the lossless pair the nt sink relies on."""
    from kg_covid_19_spark.sources.obojson import contract_obo
    from kg_covid_19_spark.sources.rdf import expand_curie

    iris = [f"http://purl.obolibrary.org/obo/MONDO_{x}" for x in locals_]
    df = spark.createDataFrame([(i,) for i in iris], "iri string")
    out = df.select(
        "iri",
        contract_obo(F.col("iri")).alias("curie"),
    ).select("iri", "curie", expand_curie(F.col("curie")).alias("back"))
    for r in out.collect():
        assert r["curie"] == "MONDO:" + r["iri"].rsplit("_", 1)[1]
        assert r["back"] == r["iri"], r


def _py_del_keys(s: str, d: int = 2) -> set[str]:
    """Python mirror of plans.queries._deletion_keys (≤d deletions)."""
    keys = {s}
    frontier = {s}
    for _ in range(d):
        nxt = set()
        for t in frontier:
            for i in range(len(t)):
                nxt.add(t[:i] + t[i + 1:])
        keys |= nxt
        frontier = nxt
    return keys


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(
    a=st.text(alphabet="abc", min_size=1, max_size=7),
    edits=st.lists(
        st.tuples(st.sampled_from("ids"), st.integers(0, 7),
                  st.sampled_from("abc")),
        min_size=0, max_size=2,
    ),
)
@SET
def test_symspell_blocking_is_lossless_for_lev2(a, edits):
    """The entity-linking blocking contract: any pair within edit
    distance ≤ 2 must share at least one ≤2-deletion key — otherwise
    the blocked join would silently drop a true candidate and diverge
    from the full-semantics oracle."""
    b = a
    for op, pos, ch in edits:
        p = min(pos, len(b))
        if op == "i":
            b = b[:p] + ch + b[p:]
        elif op == "d" and b:
            p = min(pos, len(b) - 1)
            b = b[:p] + b[p + 1:]
        elif op == "s" and b:
            p = min(pos, len(b) - 1)
            b = b[:p] + ch + b[p + 1:]
    if not b:
        return
    if _lev(a, b) <= 2:
        assert _py_del_keys(a) & _py_del_keys(b), (a, b)


def test_deletion_keys_expr_matches_python(spark):
    """The SQL higher-order-function key generator must emit exactly
    the python mirror's key set (so the lossless-blocking property
    proven above transfers to the executed plan)."""
    from kg_covid_19_spark.plans.queries import _deletion_keys

    words = ["a", "ab", "abc", "abcd", "covid", "remdesivir", "xyzzy"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        r["w"]: set(r["ks"])
        for r in df.select("w", _deletion_keys("w").alias("ks")).collect()
    }
    for w in words:
        assert got[w] == _py_del_keys(w), w


# -- PageRank rank-update arithmetic (plans/queries._rank_update_expr) ----

@given(
    s=st.one_of(
        st.integers(min_value=0, max_value=10**7),
        # the planted overflow regime: in-mass around and far past the old
        # int64 ceiling (~1.08e13 = 10^7 full-rank in-neighbors on one hub),
        # up to a 10^12-vertex star — PR_DAMP_PPM * s here would overflow
        # int64 by 5 orders of magnitude without the DECIMAL(38,0) widening
        st.integers(min_value=10**13, max_value=10**18),
    )
)
@SET
def test_rank_update_expr_exact_past_int64_ceiling(spark, s):
    from kg_covid_19_spark.plans.queries import (
        PR_BASE_PPM,
        PR_DAMP_PPM,
        _PPM,
        _rank_update_expr,
    )

    got = (
        spark.createDataFrame([(s,)], "s long")
        .select(F.expr(_rank_update_expr("s")).alias("r"))
        .collect()[0]["r"]
    )
    # Python ints are arbitrary precision: the exact fixed-point update
    assert got == PR_BASE_PPM + (PR_DAMP_PPM * s) // _PPM
    # and NULL in-mass (no messages) degrades to the base rank
    got_null = (
        spark.createDataFrame([(None,)], "s long")
        .select(F.expr(_rank_update_expr("s")).alias("r"))
        .collect()[0]["r"]
    )
    assert got_null == PR_BASE_PPM

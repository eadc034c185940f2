"""Dedup suite semantics tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from kg_covid_19_spark.operators.dedup import (
    EXACT_OFFSET,
    NEAR_OFFSET,
    exact_dup_clusters,
    minhash_candidates,
    neardup_pairs,
    simhash_clusters,
)

from conftest import SF_DIR


def test_exact_dup_finds_planted_copies(spark):
    clusters = exact_dup_clusters(spark, SF_DIR).collect()
    # every planted exact copy (doc_id % 10 == 0) must be in a cluster
    n_planted = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("doc_id") % 10 == 0)
        .count()
    )
    assert sum(c.n_docs for c in clusters) >= 2 * n_planted * 0.9
    # representative is the original (min doc_id), never the planted copy
    assert all(c.keep_doc_id < EXACT_OFFSET for c in clusters)


def test_minhash_recall_of_planted_neardups(spark):
    cand = {(r.a, r.b) for r in minhash_candidates(spark, SF_DIR).collect()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    planted = [
        r.doc_id for r in docs.filter(F.col("doc_id") % 10 == 1).select("doc_id").collect()
    ]
    # a near copy differs by one trailing token → jaccard ≈ 1 → every band
    # should collide unless the doc is tiny; demand high recall
    hit = sum(1 for d in planted if (d, d + NEAR_OFFSET) in cand)
    assert hit / max(len(planted), 1) >= 0.8


def test_neardup_pairs_jaccard_bounds(spark):
    rows = neardup_pairs(spark, SF_DIR).collect()
    assert rows, "planted near-dups must be found"
    assert all(0.5 <= r.jaccard <= 1.0 for r in rows)


def test_simhash_clusters_contain_exact_dups(spark):
    # exact duplicates have identical token sets → identical simhash
    clusters = simhash_clusters(spark, SF_DIR)
    assert clusters.count() > 0


def test_decontaminate_excludes_benchmark_docs(spark):
    from kg_covid_19_spark.operators.dedup import DECON_MOD, doc_decontaminate

    rows = doc_decontaminate(spark, SF_DIR).collect()
    assert all(r.doc_id % DECON_MOD != 0 for r in rows)
    assert all(r.n_shared_shingles >= 1 for r in rows)


def test_repetition_bounds(spark):
    from kg_covid_19_spark.functions.textstats import txt_repetition

    rows = txt_repetition(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 < r.top_tok_ppm <= 1_000_000
        assert 0 <= r.dup_2gram_ppm <= 1_000_000


def test_shingle_kernel_matches_column_form(spark):
    """The Arrow shingle kernel and the JVM higher-order form are
    interchangeable: same shingle multiset per document."""
    from kg_covid_19_spark.operators.dedup import _shingles, make_shingle_udf

    df = spark.createDataFrame(
        [(1, "a b c d a b c"), (2, "x y"), (3, ""), (4, "p q r")],
        "doc_id long, text string",
    )
    udf = make_shingle_udf()
    got = {r["doc_id"]: sorted(r["k"]) for r in
           df.select("doc_id", udf("text").alias("k")).collect()}
    want = {r["doc_id"]: sorted(r["k"]) for r in
            df.select("doc_id", _shingles(F.col("text")).alias("k")).collect()}
    assert got == want


def test_dup_ngrams_approx_is_sound_subset_with_exact_counts(spark):
    """Soundness is UNCONDITIONAL (phase 2 recounts candidates
    exactly): every shingle the approx twin reports must appear in
    doc_dup_ngrams with IDENTICAL n_docs/n_occurrences and clear the
    claim threshold. Completeness is the conditional half — covered by
    the planted-bracket test below, since the merged Misra-Gries bound
    N/(capacity+1) can exceed the threshold on few-partition inputs."""
    from conftest import SF_DIR

    from kg_covid_19_spark.operators.dedup import (
        DUP_NGRAMS_HEAVY_MIN,
        doc_dup_ngrams,
        doc_dup_ngrams_approx,
    )

    exact = {
        r.ngram_hash: (r.n_docs, r.n_occurrences)
        for r in doc_dup_ngrams(spark, SF_DIR).collect()
        if r.n_occurrences >= DUP_NGRAMS_HEAVY_MIN
    }
    approx = {
        r.ngram_hash: (r.n_docs, r.n_occurrences)
        for r in doc_dup_ngrams_approx(spark, SF_DIR).collect()
    }
    assert set(approx) <= set(exact)
    assert all(approx[k] == exact[k] for k in approx)
    assert approx  # non-vacuous at sf0.01


def test_dup_ngrams_approx_undercount_bracket(spark):
    """Planted heavy shingle with a capacity far below the shingle
    vocabulary: the boilerplate shingle must surface with its EXACT
    count (phase-2 recount) whenever its frequency clears the merged
    Misra-Gries bound N/(capacity+1), and cold shingles below the
    claim threshold must not appear."""
    from pyspark.sql import functions as F

    from kg_covid_19_spark.operators.dedup import _dup_ngrams_approx_frame

    n_hot, n_cold, cap, heavy_min = 500, 4000, 16, 100
    rows = (
        [(i % 50, "hot boilerplate shingle") for i in range(n_hot)]
        + [(i % 50, f"cold unique shingle {i:05d}") for i in range(n_cold)]
    )
    sh = spark.createDataFrame(rows, "doc_id long, ng string").repartition(4)
    n_total = n_hot + n_cold
    assert n_hot > n_total // (cap + 1)  # bound satisfied by the plant
    got = {
        r.ngram_hash: (r.n_docs, r.n_occurrences)
        for r in _dup_ngrams_approx_frame(sh, cap, heavy_min).collect()
    }
    import hashlib

    hot_hash = hashlib.md5(b"hot boilerplate shingle").hexdigest()
    assert got == {hot_hash: (50, n_hot)}


def test_ngram_kernel_matches_column_form(spark):
    """The Arrow n-gram kernel must equal the higher-order column form
    row-for-row, including empty-token, too-short and null texts."""
    from pyspark.sql import functions as F

    from kg_covid_19_spark.operators.dedup import _ngrams, make_ngram_udf

    rows = [
        (1, "a b c d e"), (2, "a b c"), (3, "a b"), (4, ""),
        (5, None), (6, "a  b c d"), (7, "x " * 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    col = {r["doc_id"]: r["g"] for r in
           df.select("doc_id", _ngrams(F.col("text"), 4).alias("g"))
           .collect()}
    ker = {r["doc_id"]: r["g"] for r in
           df.select("doc_id", make_ngram_udf(4)(F.col("text")).alias("g"))
           .collect()}
    assert ker == col


def test_containment_finds_planted_near_subsets(spark):
    """The planted near-copies (original minus the last token) are
    true near-subsets: every shingle of the copy exists in the
    original, so containment(copy -> original) must be exactly
    1_000_000 ppm; all reported directions clear the threshold and
    never exceed 1e6."""
    from kg_covid_19_spark.operators.dedup import (
        CONTAINMENT_MIN_PPM,
        NEAR_OFFSET,
        doc_containment_pairs,
    )

    got = {
        (r.src, r.dst): r.containment_ppm
        for r in doc_containment_pairs(spark, SF_DIR).collect()
    }
    assert got
    assert all(
        CONTAINMENT_MIN_PPM <= v <= 1_000_000 for v in got.values()
    )
    planted = [
        (d + NEAR_OFFSET, d)
        for d in range(1, 500, 10)  # doc_id % 10 == 1 at sf0.01
    ]
    hits = [p for p in planted if got.get(p) == 1_000_000]
    assert len(hits) >= 0.9 * len(planted), (len(hits), len(planted))


def test_dup_spans_merge_overlap_and_adjacency(spark, tmp_path):
    """Planted micro-corpus where every duplicated span is known by
    hand: overlapping dup n-grams merge into one span, hits exactly
    DECON_N apart (token windows touching) merge, hits further apart
    split, and a doc with no cross-doc n-gram emits nothing."""
    from kg_covid_19_spark.operators.dedup import DECON_N, doc_dup_spans

    assert DECON_N == 4  # the hand-computed expectations below pin n=4
    docs = [
        (1, "a b c d e f g h"),
        (2, "x a b c d e y z w q"),
        (3, "p1 p2 p3 p4 p5 p6 p7 p8"),
        (4, "a b c d k1 k2 k3 k4 k5 a b c d"),
        (8, "s1 s2 s3 s4 t1 t2 t3 t4 u1"),
        (9, "s1 s2 s3 s4 z t1 t2 t3 t4"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_dup_ngrams)
        for r in doc_dup_spans(spark, str(tmp_path)).collect()
    }
    assert got == {
        (1, 1, 5, 2),   # "a b c d"+"b c d e" overlap -> one span
        (2, 2, 6, 2),
        (4, 1, 4, 1),   # repeat 9 tokens later: gap > n -> two spans
        (4, 10, 13, 1),
        (8, 1, 8, 2),   # hits 4 apart: windows touch -> merged
        (9, 1, 4, 1),   # hits 5 apart: split
        (9, 6, 9, 1),
    }


def test_dup_spans_wellformed_and_maximal(spark):
    """On the sf corpus: every span is at least one n-gram wide,
    1-based within plausible bounds, and spans within a doc are
    MAXIMAL — consecutive spans are separated by >= 2 uncovered
    tokens (a 1-token gap is impossible: hits that close would have
    merged)."""
    from kg_covid_19_spark.operators.dedup import DECON_N, doc_dup_spans

    rows = doc_dup_spans(spark, SF_DIR).collect()
    assert rows  # planted exact copies guarantee duplicated spans
    by_doc: dict = {}
    for r in rows:
        assert r.span_start >= 1
        assert r.span_end - r.span_start + 1 >= DECON_N
        assert r.n_dup_ngrams >= 1
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    for spans in by_doc.values():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s2 >= e1 + 2, (s1, e1, s2, e2)


def test_dup_span_strip_rebuilds_clean_text(spark, tmp_path):
    """Hand-computed strip corpus: partial spans cut mid-document,
    span-free docs pass through verbatim, and a document whose every
    token is covered (a full near-copy) disappears from the output."""
    from kg_covid_19_spark.operators.dedup import doc_dup_span_strip

    docs = [
        (1, "a b c d e f g h"),
        (2, "x a b c d e y z w q"),
        (3, "p1 p2 p3 p4 p5 p6 p7 p8"),
        (4, "a b c d k1 k2 k3 k4 k5 a b c d"),
        (8, "s1 s2 s3 s4 t1 t2 t3 t4 u1"),
        (10, "s1 s2 s3 s4 t1 t2 t3 t4"),  # fully covered by doc 8
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = {
        r.doc_id: (r.n_tokens_kept, r.clean_text)
        for r in doc_dup_span_strip(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (3, "f g h"),
        2: (5, "x y z w q"),
        3: (8, "p1 p2 p3 p4 p5 p6 p7 p8"),
        4: (5, "k1 k2 k3 k4 k5"),
        8: (1, "u1"),
        # doc 10 absent: every token duplicated -> whole-doc dedup's job
    }


def test_dup_profile_counts_and_ppm(spark, tmp_path):
    """doc_dup_profile over the hand-computed span corpus: every doc
    appears (zero-filled when clean), duplicated-token counts are the
    sum of disjoint span widths, ppm is integer-exact."""
    from kg_covid_19_spark.operators.dedup import doc_dup_profile

    docs = [
        (1, "a b c d e f g h"),
        (2, "x a b c d e y z w q"),
        (3, "p1 p2 p3 p4 p5 p6 p7 p8"),
        (4, "a b c d k1 k2 k3 k4 k5 a b c d"),
        (8, "s1 s2 s3 s4 t1 t2 t3 t4 u1"),
        (9, "s1 s2 s3 s4 z t1 t2 t3 t4"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_dup_tokens, r.n_spans, r.dup_ppm)
        for r in doc_dup_profile(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (8, 5, 1, 625_000),
        2: (10, 5, 1, 500_000),
        3: (8, 0, 0, 0),
        4: (13, 8, 2, 615_384),
        8: (9, 8, 1, 888_888),
        9: (9, 8, 2, 888_888),
    }


def test_keep_best_elects_quality_argmax_per_cluster(spark):
    """The survivor election must be quality-argmax (doc_id tiebreak),
    not min-id: every cluster keeps exactly one member, and it is the
    (quality DESC, doc_id ASC) maximum; unclustered docs keep
    themselves."""
    from kg_covid_19_spark.operators.dedup import doc_dedup_keep_best

    rows = doc_dedup_keep_best(spark, SF_DIR).collect()
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r)
    assert sum(len(v) > 1 for v in by_cluster.values()) > 0  # non-vacuous
    for members in by_cluster.values():
        kept = [r for r in members if r["keep"]]
        assert len(kept) == 1
        best = min(members, key=lambda r: (-r["quality"], r["doc_id"]))
        assert kept[0]["doc_id"] == best["doc_id"]


def test_incremental_neardup_recovers_planted_copies(spark):
    """Every planted exact copy must surface against its own source at
    J=1.0 and every near copy (one trailing token dropped) at J >= 0.5
    — and no batch x batch or index x index pair may appear (the
    asymmetric contract)."""
    from kg_covid_19_spark.operators.dedup import (
        EXACT_OFFSET,
        NEAR_OFFSET,
        doc_incremental_neardup,
    )

    rows = doc_incremental_neardup(spark, SF_DIR).collect()
    assert all(r["new_doc_id"] >= EXACT_OFFSET for r in rows)
    assert all(r["dup_of"] < EXACT_OFFSET for r in rows)
    pairs = {(r["new_doc_id"], r["dup_of"]): r["jaccard"] for r in rows}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    exact_ids = [r["doc_id"] for r in
                 docs.filter("doc_id % 10 = 0").select("doc_id").collect()]
    near_ids = [r["doc_id"] for r in
                docs.filter("doc_id % 10 = 1").select("doc_id").collect()]
    assert exact_ids and near_ids
    # identical signature → identical bands: exact copies are GUARANTEED
    for d in exact_ids:
        assert pairs[(d + EXACT_OFFSET, d)] == 1.0
    # near copies are probabilistic LSH recall (same 0.8 bar as
    # test_minhash_recall_of_planted_neardups); found ones verify >= 0.5
    hit = [d for d in near_ids if (d + NEAR_OFFSET, d) in pairs]
    assert len(hit) / len(near_ids) >= 0.8
    assert all(pairs[(d + NEAR_OFFSET, d)] >= 0.5 for d in hit)


def test_dump_overlap_batch_matrix(spark):
    """The planted generations pin the matrix shape: exact re-crawl
    docs (batch 1) pair with their base doc at J=1.0, so cell (0,1)
    must exist with mean_jaccard_ppm = 1_000_000 and one pair per
    planted copy; near-copy cells (0,2) carry J in [0.5, 1.0); no
    cell may have batch_lo > batch_hi (candidates are a < b and
    offsets grow with doc_id)."""
    from kg_covid_19_spark.operators.dedup import web_dump_overlap

    rows = {(r["batch_lo"], r["batch_hi"]): r
            for r in web_dump_overlap(spark, SF_DIR).collect()}
    assert all(lo <= hi for lo, hi in rows)
    n_exact = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("doc_id") % 10 == 0)
        .count()
    )
    cell = rows[(0, 1)]
    assert cell["n_pairs"] >= n_exact
    assert cell["n_dup_docs"] >= n_exact
    # every pair verifies >= 0.5 and the planted twins are J=1.0;
    # chance base-x-copy pairs above the threshold can dilute the mean
    # but never below the verification floor
    assert 500_000 <= cell["mean_jaccard_ppm"] <= 1_000_000
    near = rows[(0, 2)]
    assert near["n_pairs"] >= 1
    assert 500_000 <= near["mean_jaccard_ppm"] <= 1_000_000


def test_dedup_savings_accounting(spark):
    """Batch 1 (exact re-crawl) is 100% redundant by construction —
    every doc in it has an identical earlier twin; batch 0 (the base
    crawl) must lose nothing to EXACT dedup and only near-dup losses
    where a batch-0 doc is the newer side of an intra-base pair; doc
    counts reconcile with the corpus frame."""
    from kg_covid_19_spark.operators.dedup import (
        dedup_corpus,
        web_dedup_savings,
    )

    rows = {r["batch"]: r for r in web_dedup_savings(spark, SF_DIR).collect()}
    corpus_n = dedup_corpus(spark, SF_DIR).count()
    assert sum(r["n_docs"] for r in rows.values()) == corpus_n
    b1 = rows[1]
    assert b1["n_redundant"] == b1["n_docs"]
    assert b1["redundant_ppm"] == 1_000_000
    assert b1["chars_redundant"] > 0
    b0 = rows[0]
    assert b0["n_redundant"] <= b0["n_docs"]
    # the near-copy batch: redundant iff LSH recalled the planted pair
    # (same probabilistic bar as the incremental test) — bounded above
    b2 = rows[2]
    assert b2["n_redundant"] <= b2["n_docs"]


def test_quality_funnel_is_monotone_and_non_vacuous(spark):
    """The funnel must be a true funnel: docs and chars non-increasing
    stage over stage, every stage present exactly once, and each gate
    actually drops something on the synthetic corpus (planted copies
    guarantee the dedup stages; the 10-99-token length spread
    guarantees the minlen and quality gates)."""
    from kg_covid_19_spark.operators.dedup import web_quality_funnel

    rows = {r["stage"]: r for r in
            web_quality_funnel(spark, SF_DIR).collect()}
    assert sorted(rows) == [1, 2, 3, 4, 5]
    assert [rows[s]["name"] for s in sorted(rows)] == [
        "raw", "minlen", "quality", "exact_dedup", "near_dedup"
    ]
    for s in range(2, 6):
        assert rows[s]["n_docs"] <= rows[s - 1]["n_docs"]
        assert rows[s]["n_chars"] <= rows[s - 1]["n_chars"]
    # every gate bites: raw > minlen-survivors, exact dedup removes the
    # planted copies that survive the quality gates
    assert rows[2]["n_docs"] < rows[1]["n_docs"]
    assert rows[4]["n_docs"] < rows[3]["n_docs"]

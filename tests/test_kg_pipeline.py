"""End-to-end KG pipeline vs the DuckDB oracle, mirroring the reference's
test style (golden shapes + order-insensitive row sets, SURVEY.md §5)."""

from __future__ import annotations

import pytest

from kg_covid_19_spark.dictionaries import kg_cte_sql
from kg_covid_19_spark.plans.pipeline import build_kg
from kg_covid_19_spark.plans.queries import KG_ORACLES, KG_QUERIES

from conftest import SF_DIR, assert_df_matches_oracle


def test_kg_counts_and_values(spark, duck):
    nodes, edges = build_kg(spark, SF_DIR)
    cte = kg_cte_sql()
    assert_df_matches_oracle(
        nodes, duck, f"WITH {cte} SELECT id, name, category, provided_by FROM nodes"
    )
    assert_df_matches_oracle(
        edges,
        duck,
        f"WITH {cte} SELECT subject, predicate, object, relation, provided_by FROM edges",
    )


def test_no_duplicate_nodes(spark):
    # reference invariant: no duplicate node ids after merge
    # (tests/test_drug_central.py:110-117)
    nodes, _ = build_kg(spark, SF_DIR)
    assert nodes.count() == nodes.select("id").distinct().count()


def test_edge_key_unique(spark):
    # north_rule edge dedup key (subject, predicate, object, relation)
    _, edges = build_kg(spark, SF_DIR)
    assert (
        edges.count()
        == edges.select("subject", "predicate", "object", "relation")
        .distinct()
        .count()
    )


@pytest.mark.parametrize("name", sorted(KG_QUERIES))
def test_query_matches_oracle(spark, duck, name):
    df = KG_QUERIES[name](spark, SF_DIR)
    assert_df_matches_oracle(df, duck, KG_ORACLES[name])


def test_empty_input_builds_empty_graph(spark):
    from kg_covid_19_spark.plans.pipeline import build_kg

    nodes, edges = build_kg(spark, SF_DIR, langs=("xx",))
    assert nodes.count() == 0
    assert edges.count() == 0
    # schema stays stable even with zero rows
    assert nodes.columns == ["id", "name", "category", "provided_by"]


def test_package_kgx_tar_roundtrip(spark, tmp_path):
    """KGX tree → tar.gz artifact (merge.yaml:123-136 shape) → extract →
    read back identical frames."""
    import tarfile

    from kg_covid_19_spark.plans.pipeline import build_kg
    from kg_covid_19_spark.sources.kgx import (
        package_kgx_tar,
        read_kgx,
        write_kgx,
    )

    nodes, edges = build_kg(spark, SF_DIR)
    out = str(tmp_path / "merged-kg")
    write_kgx(nodes, edges, out)
    tar_path = str(tmp_path / "merged-kg.tar.gz")
    package_kgx_tar(out, tar_path)

    ext = tmp_path / "extracted"
    with tarfile.open(tar_path) as tar:
        tar.extractall(ext)
    rn, re_ = read_kgx(spark, str(ext))
    assert rn.count() == nodes.count()
    assert re_.count() == edges.count()
    assert sorted(rn.columns) == sorted(nodes.columns)

    # byte-reproducible: re-packing the same tree (later wall-clock,
    # same inputs) yields the identical archive — tar headers and the
    # gzip stream carry no timestamps/uids
    import hashlib
    import time

    time.sleep(1.1)  # cross a whole-second mtime boundary
    tar2 = str(tmp_path / "merged-kg-2.tar.gz")
    package_kgx_tar(out, tar2)
    h = lambda p: hashlib.sha256(open(p, "rb").read()).hexdigest()  # noqa: E731
    assert h(tar_path) == h(tar2)


def test_schema_validation_flags_planted_violations(spark):
    """Domain/range QA must pass the well-typed edges and flag each
    planted violation class: entity-subject mentions, publication-
    endpoint correlations, and unknown endpoints degrading to
    biolink:NamedThing (never silently valid)."""
    from kg_covid_19_spark.plans.queries import schema_validation_frame

    edges = spark.createDataFrame(
        [
            ("CORD:1", "biolink:mentions", "MONDO:0005091"),      # valid
            ("MONDO:0005091", "biolink:mentions", "CORD:1"),      # invalid
            ("MONDO:0005091", "biolink:correlated_with", "CHEBI:1"),  # valid
            ("CORD:1", "biolink:correlated_with", "CHEBI:1"),     # invalid
            ("XXX:9", "biolink:mentions", "CHEBI:1"),             # invalid
        ],
        "subject string, predicate string, object string",
    )
    cats = spark.createDataFrame(
        [("MONDO:0005091", "biolink:Disease"), ("CHEBI:1", "biolink:Drug")],
        "id string, category string",
    )
    rows = schema_validation_frame(edges, cats).collect()
    got = {
        (r["predicate"], r["subject_category"], r["object_category"]):
        (r["valid"], r["n"])
        for r in rows
    }
    assert got[("biolink:mentions", "biolink:Publication",
                "biolink:Disease")] == (True, 1)
    assert got[("biolink:mentions", "biolink:Disease",
                "biolink:Publication")] == (False, 1)
    assert got[("biolink:correlated_with", "biolink:Disease",
                "biolink:Drug")] == (True, 1)
    assert got[("biolink:correlated_with", "biolink:Publication",
                "biolink:Drug")] == (False, 1)
    assert got[("biolink:mentions", "biolink:NamedThing",
                "biolink:Drug")] == (False, 1)


def test_schema_validation_kg_is_fully_valid(spark):
    """The engine's own construction must produce zero violations —
    the QA gate is green on the pipeline it guards."""
    from kg_covid_19_spark.plans.queries import kg_schema_validation

    rows = kg_schema_validation(spark, SF_DIR).collect()
    assert len(rows) > 0
    assert all(r["valid"] for r in rows)


def test_incremental_merge_planted_new_and_known(spark):
    """The rollup must classify exactly: pairs/terms already present in
    the index graph count as known, fresh ones as new, and mention
    edges from delta docs are always new."""
    from kg_covid_19_spark.plans.queries import incremental_merge_frame

    idx = spark.createDataFrame(
        [(1, ["A", "B"]), (2, ["B", "C"])],
        "doc_id long, curies array<string>",
    )
    delta = spark.createDataFrame(
        [(3, ["A", "B", "D"])], "doc_id long, curies array<string>"
    )
    got = {
        (r["kind"], r["status"]): r["n"]
        for r in incremental_merge_frame(idx, delta).collect()
    }
    # delta pairs: (A,B) known; (A,D),(B,D) new
    assert got[("cooc_edge", "known")] == 1
    assert got[("cooc_edge", "new")] == 2
    # delta terms: A,B known; D new
    assert got[("term_node", "known")] == 2
    assert got[("term_node", "new")] == 1
    # all three delta mentions are new edges (fresh doc subject)
    assert got[("mention_edge", "new")] == 3
    assert ("mention_edge", "known") not in got


def test_incremental_merge_totals_consistent(spark):
    """On the real corpus the per-kind totals must equal direct counts
    of the delta-side frames (the rollup partitions, never drops)."""
    from pyspark.sql import functions as F

    from kg_covid_19_spark.plans.pipeline import cooc_pairs, get_mention_arrays
    from kg_covid_19_spark.plans.queries import (
        MERGE_DELTA_MOD,
        kg_incremental_merge,
    )

    got = {}
    for r in kg_incremental_merge(spark, SF_DIR).collect():
        got[r["kind"]] = got.get(r["kind"], 0) + r["n"]
    delta = get_mention_arrays(spark, SF_DIR).filter(
        (F.col("doc_id") % 10) == MERGE_DELTA_MOD
    )
    n_pairs = cooc_pairs(delta).distinct().count()
    n_terms = (
        delta.select(F.explode("curies").alias("c")).select("c")
        .distinct().count()
    )
    n_mentions = delta.select(F.explode("curies")).count()
    assert got.get("cooc_edge", 0) == n_pairs
    assert got.get("term_node", 0) == n_terms
    assert got.get("mention_edge", 0) == n_mentions


def test_cooc_lift_weights_every_pair_exactly(spark, duck):
    """kg_lift_incremental, the lift score maintained from base and
    delta slices, must weight EXACTLY the co-occurrence pair set (edge
    weighting may not drop or invent pairs), agree with its DuckDB
    oracle at test scale, and satisfy its own integer identity
    lift_ppm = n_docs*N*1e6 div (df_s*df_o) row by row — a perfectly
    nested pair (n_docs == df_s == df_o) scores exactly N/df in ppm."""
    from kg_covid_19_spark.plans.queries import (
        kg_cooccurrence_counts,
        kg_lift_incremental,
    )

    lift = kg_lift_incremental(spark, SF_DIR)
    pairs = kg_cooccurrence_counts(spark, SF_DIR).select("subject", "object")
    assert {tuple(r) for r in lift.select("subject", "object").collect()} == {
        tuple(r) for r in pairs.collect()
    }
    assert lift.count() == pairs.count()
    assert_df_matches_oracle(lift, duck, KG_ORACLES["kg_lift_incremental"])
    rows = lift.collect()
    from kg_covid_19_spark.plans.pipeline import get_mentions

    n = get_mentions(spark, SF_DIR).select("doc_id").distinct().count()
    for r in rows:
        assert r["lift_ppm"] == r["n_docs"] * n * 1_000_000 // (
            r["df_s"] * r["df_o"]
        )
        if r["n_docs"] == r["df_s"] == r["df_o"]:
            assert r["lift_ppm"] == n * 1_000_000 // r["n_docs"]

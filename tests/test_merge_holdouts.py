"""Merge-stage and holdout semantics (reference analog assertions:
tests/test_holdouts.py:60-120, merge node/edge-count style checks)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kg_covid_19_spark.operators.holdouts import (
    edge_splits,
    holdout_negative_edges,
)
from kg_covid_19_spark.operators.merge import merge_nodes, salted_node_fusion
from kg_covid_19_spark.plans.merged import get_merged
from kg_covid_19_spark.sources.kgx import read_kgx, write_kgx

from conftest import SF_DIR


def test_salted_fusion_equals_plain(spark):
    frames = [
        spark.createDataFrame(
            [("A", "a", "c1", "s1"), ("A", None, "c1", "s2"), ("B", "b", "c2", "s1")],
            "id string, name string, category string, provided_by string",
        ),
        spark.createDataFrame(
            [("A", "z", "c0", "s3")],
            "id string, name string, category string, provided_by string",
        ),
    ]
    plain = {tuple(r) for r in merge_nodes(frames).collect()}
    salted = {tuple(r) for r in salted_node_fusion(frames).collect()}
    assert plain == salted
    assert ("A", "a", "c0", "s1|s2|s3") in plain


def test_merged_no_duplicate_ids_or_edge_keys(spark):
    nodes, edges = get_merged(spark, SF_DIR)
    assert nodes.count() == nodes.select("id").distinct().count()
    key = ["subject", "predicate", "object", "relation"]
    assert edges.count() == edges.select(*key).distinct().count()


def test_splits_partition_all_edges(spark):
    splits = edge_splits(spark, SF_DIR)
    _, edges = get_merged(spark, SF_DIR)
    assert splits.count() == edges.count()
    by = dict(
        (r.split, r.n)
        for r in splits.groupBy("split").agg(F.count("*").alias("n")).collect()
    )
    total = sum(by.values())
    # hash split targets 0.8/0.1/0.1 (reference fraction assertion)
    assert 0.7 <= by.get("train", 0) / total <= 0.9
    assert by.get("valid", 0) > 0 and by.get("test", 0) > 0


def test_negatives_disjoint_from_positives(spark):
    negs = holdout_negative_edges(spark, SF_DIR)
    _, edges = get_merged(spark, SF_DIR)
    overlap = negs.join(
        edges.select("subject", "object").distinct(), ["subject", "object"]
    ).count()
    assert overlap == 0 and negs.count() == 100


def test_kgx_roundtrip(spark, tmp_path):
    nodes, edges = get_merged(spark, SF_DIR)
    out = str(tmp_path / "kgx")
    write_kgx(nodes.limit(50), edges.limit(50), out, single_file=True)
    rn, re_ = read_kgx(spark, out)
    assert rn.count() == 50 and re_.count() == 50
    assert rn.columns == ["id", "name", "category", "provided_by"]
    assert re_.columns == ["subject", "predicate", "object", "relation", "provided_by"]


def test_kgx_jsonl_roundtrip(spark, tmp_path):
    """KGX's other interchange format: jsonl write -> read preserves the
    exact node/edge value multisets (column order is schema-inferred on
    read, so compare by name)."""
    nodes, edges = get_merged(spark, SF_DIR)
    out = str(tmp_path / "kgx_jsonl")
    write_kgx(nodes.limit(50), edges.limit(50), out, fmt="jsonl")
    rn, re_ = read_kgx(spark, out, fmt="jsonl")
    want_nodes = sorted(
        tuple(r) for r in nodes.limit(50)
        .select("id", "name", "category", "provided_by").collect()
    )
    got_nodes = sorted(
        tuple(r) for r in rn
        .select("id", "name", "category", "provided_by").collect()
    )
    assert got_nodes == want_nodes
    assert re_.count() == 50
    import pytest as _pytest

    with _pytest.raises(ValueError):
        write_kgx(nodes.limit(1), edges.limit(1), out, fmt="xml")


def test_connected_split_covers_every_node_in_train(spark):
    from pyspark.sql import functions as F

    from kg_covid_19_spark.operators.holdouts import connected_edge_splits

    splits = connected_edge_splits(spark, SF_DIR).cache()
    all_nodes = splits.select(
        F.explode(F.array("subject", "object")).alias("node")
    ).distinct()
    train_nodes = (
        splits.filter(F.col("split") == "train")
        .select(F.explode(F.array("subject", "object")).alias("node"))
        .distinct()
    )
    # every non-isolated node keeps at least one training edge
    assert all_nodes.join(train_nodes, "node", "left_anti").count() == 0
    # and the forced anchors don't blow up the train fraction
    counts = {r.split: r.n for r in splits.groupBy("split").agg(
        F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    assert 0.75 <= counts["train"] / total <= 0.95
    assert counts.get("valid", 0) > 0 and counts.get("test", 0) > 0


def test_kgx_property_types_cast(spark, tmp_path):
    from kg_covid_19_spark.sources.kgx import (
        MERGE_PROPERTY_TYPES,
        apply_property_types,
        write_kgx,
    )

    edges = spark.createDataFrame(
        [
            ("a", "p", "b", "903", "0.87"),
            ("c", "p", "d", "", None),
        ],
        "subject string, predicate string, object string, "
        "combined_score string, confidence_score string",
    )
    cast = apply_property_types(edges, MERGE_PROPERTY_TYPES)
    types = dict(cast.dtypes)
    assert types["combined_score"] == "float"
    assert types["confidence_score"] == "float"
    rows = {r.subject: r for r in cast.collect()}
    assert rows["a"].combined_score == 903.0
    assert rows["c"].combined_score is None  # '' → null, not a cast error
    # absent columns are ignored
    nodes = spark.createDataFrame([("x", "n")], "id string, name string")
    assert apply_property_types(nodes, MERGE_PROPERTY_TYPES).columns == [
        "id", "name",
    ]
    # and the sink applies them on the way out (merge.yaml:123-144)
    out = str(tmp_path / "typed")
    write_kgx(nodes, edges, out, single_file=True,
              property_types=MERGE_PROPERTY_TYPES)
    re_read = spark.read.option("sep", "\t").option("header", True).option(
        "inferSchema", True).csv(f"{out}/edges")
    assert dict(re_read.dtypes)["combined_score"] in ("double", "float", "int")


def test_remap_node_identifier_rewrites_nodes_and_edges(spark):
    from kg_covid_19_spark.operators.merge import remap_node_identifier

    nodes = spark.createDataFrame(
        [
            ("ENSEMBL:ENSP1", "p1", "biolink:Protein",
             "ENSEMBL:ENSP1|UniProtKB:P100"),
            ("ENSEMBL:ENSP2", "p2", "biolink:Protein", "ENSEMBL:ENSP2"),
            ("NCBIGene:42", "g", "biolink:Gene", "UniProtKB:P999"),
            ("ENSEMBL:ENSP3", "p3", "biolink:Protein", None),
        ],
        "id string, name string, category string, xrefs string",
    )
    edges = spark.createDataFrame(
        [
            ("ENSEMBL:ENSP1", "biolink:interacts_with", "ENSEMBL:ENSP2"),
            ("NCBIGene:42", "biolink:has_gene_product", "ENSEMBL:ENSP1"),
        ],
        "subject string, predicate string, object string",
    )
    n2, e2 = remap_node_identifier(nodes, edges)
    ids = {r.name: r.id for r in n2.collect()}
    assert ids["p1"] == "UniProtKB:P100"      # remapped via xref
    assert ids["p2"] == "ENSEMBL:ENSP2"       # no UniProtKB xref → unchanged
    assert ids["g"] == "NCBIGene:42"          # wrong category → unchanged
    assert ids["p3"] == "ENSEMBL:ENSP3"       # null xrefs → unchanged
    got_edges = sorted(tuple(r) for r in e2.collect())
    assert got_edges == [
        ("NCBIGene:42", "biolink:has_gene_product", "UniProtKB:P100"),
        ("UniProtKB:P100", "biolink:interacts_with", "ENSEMBL:ENSP2"),
    ]


def test_load_and_merge_with_filters_and_remap(spark):
    from kg_covid_19_spark.operators.merge import (
        apply_source_filters,
        load_and_merge,
    )

    string_nodes = spark.createDataFrame(
        [
            ("ENSEMBL:ENSP1", "p1", "biolink:Protein", "STRING",
             "UniProtKB:P100"),
            ("NCBIGene:1", "g1", "biolink:Gene", "STRING", ""),
            ("CHEBI:77", "chem", "biolink:Drug", "STRING", ""),  # filtered
        ],
        "id string, name string, category string, provided_by string, "
        "xrefs string",
    )
    string_edges = spark.createDataFrame(
        [
            ("NCBIGene:1", "biolink:has_gene_product", "ENSEMBL:ENSP1",
             "RO:1", "STRING"),
            ("NCBIGene:1", "biolink:related_to", "ENSEMBL:ENSP1",
             "RO:2", "STRING"),  # predicate filtered
            ("CHEBI:77", "biolink:interacts_with", "ENSEMBL:ENSP1",
             "RO:3", "STRING"),  # endpoint category filtered
        ],
        "subject string, predicate string, object string, relation string, "
        "provided_by string",
    )
    other_nodes = spark.createDataFrame(
        [("UniProtKB:P100", "p1-alias", "biolink:Protein", "intact", "")],
        "id string, name string, category string, provided_by string, "
        "xrefs string",
    )
    other_edges = spark.createDataFrame(
        [], "subject string, predicate string, object string, "
            "relation string, provided_by string",
    )
    # the merge.yaml STRING block (merge.yaml:27-47)
    config = {
        "STRING": {
            "node_filters": {
                "category": ["biolink:Gene", "biolink:Protein"]
            },
            "edge_filters": {
                "subject_category": ["biolink:Gene", "biolink:Protein"],
                "object_category": ["biolink:Gene", "biolink:Protein"],
                "edge_label": [
                    "biolink:interacts_with", "biolink:has_gene_product"
                ],
            },
            "operations": [
                {
                    "name": "remap_node_identifier",
                    "args": {
                        "category": "biolink:Protein",
                        "alternative_property": "xrefs",
                        "prefix": "UniProtKB",
                    },
                }
            ],
        }
    }
    nodes, edges, stats = load_and_merge(
        {"STRING": (string_nodes, string_edges),
         "intact": (other_nodes, other_edges)},
        config,
    )
    n = {r.id: r for r in nodes.collect()}
    # remapped STRING protein fused with the intact node of the same id,
    # provenance accumulated (merge_kg.py:22-34)
    assert sorted(n) == ["NCBIGene:1", "UniProtKB:P100"]
    assert n["UniProtKB:P100"].provided_by == "STRING|intact"
    e = [tuple(r) for r in edges.collect()]
    assert e == [
        ("NCBIGene:1", "biolink:has_gene_product", "UniProtKB:P100",
         "RO:1", "STRING")
    ]
    assert stats.count() > 0

    # filters alone: edge with filtered endpoint disappears (KGX load
    # semantics) even when its predicate is allowed
    fn, fe = apply_source_filters(
        string_nodes, string_edges,
        node_filters={"category": ["biolink:Gene", "biolink:Protein"]},
        edge_filters={
            "subject_category": ["biolink:Gene", "biolink:Protein"],
            "edge_label": ["biolink:interacts_with",
                           "biolink:has_gene_product"],
        },
    )
    assert fn.count() == 2
    assert [r.predicate for r in fe.collect()] == [
        "biolink:has_gene_product"
    ]


def test_kgx_partitioned_write_prunes(spark, tmp_path):
    import os

    from kg_covid_19_spark.plans.merged import get_merged
    from kg_covid_19_spark.sources.kgx import write_kgx

    nodes, edges = get_merged(spark, SF_DIR)
    out = str(tmp_path / "parted")
    write_kgx(nodes, edges, out, node_partition_by=["category"],
              edge_partition_by=["predicate"])
    cat_dirs = [d for d in os.listdir(f"{out}/nodes") if d.startswith("category=")]
    assert len(cat_dirs) >= 2
    # partition pruning: a category filter reads only its directory
    rd = (
        spark.read.option("sep", "\t").option("header", True)
        .option("basePath", f"{out}/nodes").csv(f"{out}/nodes")
    )
    plan = (
        rd.filter(F.col("category") == "biolink:Publication")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(category" in plan
    got = rd.filter(F.col("category") == "biolink:Publication").count()
    want = nodes.filter(F.col("category") == "biolink:Publication").count()
    assert got == want


def test_forest_split_keeps_train_graph_connected(spark):
    """Exact ensmallen random_holdout semantics (reference
    make_holdouts.py:59-75): the TRAIN split must contain a spanning
    tree of every component — components computed over train edges
    alone must equal components over all edges — while the splits
    stay a disjoint partition near 0.8/0.1/0.1 of the non-forest
    remainder."""
    from pyspark.sql import functions as F

    from kg_covid_19_spark.operators.holdouts import forest_edge_splits
    from kg_covid_19_spark.plans.queries import components_fixpoint_frame

    splits = forest_edge_splits(spark, SF_DIR).cache()
    total = splits.count()
    by = {r["split"]: r["n"] for r in
          splits.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(by.values()) == total  # disjoint partition
    assert 0.70 <= by["train"] / total  # forest forcing only adds to train
    assert by["valid"] / total <= 0.2 and by["test"] / total <= 0.2

    def comps(edge_df):
        und = edge_df.select("subject", "object").unionAll(
            edge_df.select(F.col("object").alias("subject"),
                           F.col("subject").alias("object"))
        )
        return {
            r["id"]: r["component"]
            for r in components_fixpoint_frame(und).collect()
        }

    full = comps(splits)
    train = comps(splits.filter(F.col("split") == "train"))
    assert train == full  # same node set AND same component labels
    splits.unpersist()


def test_spanning_forest_is_exact_tree_per_component(spark):
    """On a handcrafted two-component multigraph the forest must have
    exactly |V| - |components| edges, include no cycle, and pick the
    min-hash parallel edge deterministically. The per-round checkpoints
    of the components and BFS loops are released, so the returned
    forest is the only RDD the call leaves persisted."""
    from pyspark.sql import functions as F

    from kg_covid_19_spark.operators.holdouts import spanning_forest_hashes

    rows = [
        # component 1: square with a diagonal + a parallel edge
        ("n1", "p", "n2"), ("n2", "p", "n3"), ("n3", "p", "n4"),
        ("n4", "p", "n1"), ("n1", "p", "n3"), ("n1", "q", "n2"),
        # component 2: a pendant pair
        ("m1", "p", "m2"),
    ]
    e = spark.createDataFrame(
        rows, "subject string, predicate string, object string"
    ).withColumn(
        "h", F.md5(F.concat_ws("|", "subject", "predicate", "object"))
    )
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    forest_df = spanning_forest_hashes(e)
    assert len(persisted() - before) == 1
    forest = {r["h"] for r in forest_df.collect()}
    assert len(forest) == 6 - 2  # |V|=6, two components
    # parallel n1-n2 edges: exactly the min-hash one may be picked
    h_p = e.filter(
        (F.col("subject") == "n1") & (F.col("predicate") == "p")
        & (F.col("object") == "n2")
    ).collect()[0]["h"]
    h_q = e.filter(F.col("predicate") == "q").collect()[0]["h"]
    assert not (h_p in forest and h_q in forest)
    # component 2's only edge is forced
    h_m = e.filter(F.col("subject") == "m1").collect()[0]["h"]
    assert h_m in forest


def test_ego_export_hops_are_disjoint_and_edge_backed(spark):
    """(seed, node) sets at hop 1 and hop 2 are disjoint; every hop-1
    row is a real incident edge of the seed; every hop-2 node reaches
    the seed through some hop-1 node; no row carries the seed itself;
    both hops are non-empty on the merged graph (publications make
    hop 2 real — the dense cooc graph alone would leave it vacuous)."""
    from kg_covid_19_spark.plans.merged import get_merged, kg_ego_export

    rows = kg_ego_export(spark, SF_DIR).collect()
    h1 = {(r["seed"], r["node"]) for r in rows if r["hop"] == 1}
    h2 = {(r["seed"], r["node"]) for r in rows if r["hop"] == 2}
    assert h1 and h2
    assert not (h1 & h2)
    assert all(s != n for s, n in h1 | h2)
    _, edges = get_merged(spark, SF_DIR)
    und = set()
    for r in edges.select("subject", "object").collect():
        und.add((r["subject"], r["object"]))
        und.add((r["object"], r["subject"]))
    assert all(p in und for p in h1)
    nbrs = {}
    for u, v in und:
        nbrs.setdefault(u, set()).add(v)
    for s, n in h2:
        assert any(n in nbrs.get(m, set()) for (ss, m) in h1 if ss == s), (
            s, n,
        )


NODE_DDL = "id string, name string, category string, provided_by string"
EDGE_DDL = (
    "subject string, predicate string, object string, relation string, "
    "provided_by string"
)


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda r: tuple((v is None, v or "") for v in r))


def test_merge_overlap_equals_merge_over_union(spark):
    """merge_overlap's two halves union to exactly merge_nodes /
    merge_edges over both sources, on planted frames with document keys
    that collide with the small side, small keys the documents lack,
    duplicate keys within the small side, a null key, null names and a
    row whose key columns each occur in the small side but not together.
    The null key and the colliding keys land in the fused half."""
    from kg_covid_19_spark.operators.merge import (
        EDGE_KEY,
        merge_edges,
        merge_overlap,
    )

    doc_nodes = spark.createDataFrame([
        ("A", "a", "c1", "documents"),      # collides with the small side
        ("B", None, "c2", "documents"),     # pass-through, null name
        ("C", "c", "c3", "documents"),      # pass-through
        (None, "n", "c4", "documents"),     # null key
    ], NODE_DDL)
    onto_rows = [
        ("A", None, "c0", "ontology"),
        ("A", "z", "c9", "ontology"),       # duplicate key, small side
        ("D", "d", "c5", "ontology"),       # absent from the documents
    ]
    onto_nodes = spark.createDataFrame(onto_rows, NODE_DDL)
    passed, fused = merge_overlap(doc_nodes, onto_nodes, onto_rows, ["id"],
                                  merge_nodes)
    assert _rows(passed.unionByName(fused)) == _rows(
        merge_nodes([doc_nodes, onto_nodes]))
    assert {r.id for r in passed.collect()} == {"B", "C"}
    assert ("A", "a", "c0", "documents|ontology") in _rows(fused)
    assert (None, "n", "c4", "documents") in _rows(fused)

    doc_edges = spark.createDataFrame([
        ("A", "p", "B", "r", "documents"),  # collides
        ("A", "p", "D", "r", "documents"),  # each column hits, key does not
        ("A", "q", "B", "r", "documents"),  # pass-through
        ("A", "p", None, "r", "documents"), # null key
    ], EDGE_DDL)
    onto_edge_rows = [
        ("A", "p", "B", "r", "ontology", "h1"),
        ("A", "p", "B", "r", "ontology", "h2"),  # duplicate key
        ("C", "p", "D", "r", "ontology", "h3"),  # absent from the documents
    ]
    onto_edges = spark.createDataFrame(onto_edge_rows,
                                       EDGE_DDL + ", edge_id string")
    passed, fused = merge_overlap(doc_edges, onto_edges, onto_edge_rows,
                                  EDGE_KEY, merge_edges)
    assert _rows(passed.unionByName(fused)) == _rows(
        merge_edges([doc_edges, onto_edges]))
    assert _rows(passed) == [("A", "q", "B", "r", "documents")]
    assert ("A", "p", "B", "r", "documents|ontology") in _rows(fused)
    assert ("A", "p", None, "r", "documents") in _rows(fused)


def test_driver_built_ontology_matches_spark_expressions(spark):
    """The ontology rows built in Python equal what the Spark
    expressions guess_bl_category / content_edge_id give over the SSSOM
    map and the canonical gazetteer, and the driver-side category guess
    agrees with guess_bl_category on every dictionary CURIE and on
    prefix edge cases."""
    from kg_covid_19_spark.dictionaries import (
        GAZETTEER,
        ONTO_PROVIDED_BY,
        PREFIX_CATEGORY,
        SAME_AS_PREDICATE,
        SAME_AS_RELATION,
        SSSOM_MAP,
        guess_category,
    )
    from kg_covid_19_spark.functions.curie import (
        content_edge_id,
        guess_bl_category,
    )
    from kg_covid_19_spark.plans.pipeline import gazetteer_nodes
    from kg_covid_19_spark.sources.ontology import (
        ontology_edges,
        ontology_nodes,
    )

    sssom = spark.createDataFrame(SSSOM_MAP, "subject_id string, object_id string")
    onto = F.lit(ONTO_PROVIDED_BY).alias("provided_by")
    want_nodes = gazetteer_nodes(spark).select(
        F.col("curie").alias("id"), "name", "category", onto
    ).unionByName(
        sssom.select(F.col("subject_id").alias("id")).distinct().select(
            "id", F.lit(None).cast("string").alias("name"),
            guess_bl_category(F.col("id")).alias("category"), onto,
        )
    )
    assert _rows(ontology_nodes(spark)) == _rows(want_nodes)
    want_edges = sssom.select(
        F.col("subject_id").alias("subject"),
        F.lit(SAME_AS_PREDICATE).alias("predicate"),
        F.col("object_id").alias("object"),
        F.lit(SAME_AS_RELATION).alias("relation"), onto,
        content_edge_id(F.col("subject_id"), F.col("object_id")).alias("edge_id"),
    )
    assert _rows(ontology_edges(spark)) == _rows(want_edges)

    curies = sorted(
        {c for _, c, _, _ in GAZETTEER} | {c for pair in SSSOM_MAP for c in pair}
        | {p + ":x" for p, _ in PREFIX_CATEGORY}
        | {"nocolon", "", ":x", "GO:a:b", "go:lower", "UniProtKB"}
    )
    got = spark.createDataFrame([(c,) for c in curies], "c string").select(
        "c", guess_bl_category(F.col("c")).alias("cat")
    ).collect()
    assert {r.c: r.cat for r in got} == {c: guess_category(c) for c in curies}


def _exchanges_outside_cache(plan) -> list[str]:
    """Exchange node names of an executed physical plan, not descending
    into cached relations (whose build plans ran once, at persist)."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _exchanges_outside_cache(plan.executedPlan())
    if name.endswith("QueryStage") and name != "TableCacheQueryStage":
        kids = [plan.plan()]
    else:
        kids = [plan.children().apply(i) for i in range(plan.children().size())]
    own = [name] if "Exchange" in name else []
    return own + [x for k in kids for x in _exchanges_outside_cache(k)]


def test_merged_graph_is_a_plan_over_the_pinned_graph(spark):
    """The merged frames read the pinned KG without a shuffle and pin no
    copy of their own: executing them runs no Exchange outside the
    cached KG, and building them adds no persisted RDD."""
    from kg_covid_19_spark.plans.pipeline import get_kg
    from kg_covid_19_spark.sources.corpus import invalidate_session_caches

    invalidate_session_caches(spark)
    get_kg(spark, SF_DIR)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keySet())
    nodes, edges = get_merged(spark, SF_DIR)
    assert set(persistent().keySet()) == before
    for df in (nodes, edges):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan()
        assert _exchanges_outside_cache(plan) == [], plan.toString()
        assert "InMemoryTableScan" in plan.toString()

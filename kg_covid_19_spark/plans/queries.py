"""The reference's query surface, re-expressed as DataFrame plans.

kg-covid-19 ships 7 grlc/SPARQL templates run against Blazegraph
(queries/*.rq, kg_covid_19/query.py:8-41). Each becomes a DataFrame query
over the merged node/edge frames; each carries a DuckDB oracle (the full
pipeline CTE from dictionaries.kg_cte_sql plus the query's SELECT) so the
driver's correctness gate checks the *entire* pipeline semantics, not just
the final aggregation.

Mapping (SURVEY.md §2.3 J11-J13, §2.4 A7):

  query-01-bl-cat-counts.rq        → kg_category_counts
  query-02 (taxon/category select) → kg_protein_nodes
  query-03-…-interactors.rq        → kg_one_hop
  query-04 (2-hop)                 → kg_two_hop
  query-05 (druggable 2-hop)       → kg_druggable_two_hop
  query-06-provided_by_counts.rq   → kg_provided_by_counts
  query-07 (drug→target listing)   → kg_drug_mentions
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..dictionaries import kg_cte_sql, normalized_gazetteer
from ..sources.corpus import _release, artifact, local_frame, read_table
from .pipeline import (
    cooc_pairs,
    get_kg,
    get_mention_arrays,
    get_mention_set,
    get_mentions,
    pair_counts,
    web_extract_parity as _web_extract_parity,
)

# The hub entity for the hop queries — the reference's SARS-CoV-2 anchor
# (queries/query-03-sars-cov-2-interactors.rq) becomes our most-canonical
# disease CURIE (both 'hash' and 'merge' normalize onto it).
HUB = "MONDO:0005091"


def kg_category_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """query-01: COUNT(*) per Biolink category over merged nodes (A7)."""
    nodes, _ = get_kg(spark, sf_dir)
    return nodes.groupBy("category").agg(F.count("*").alias("n"))


def kg_protein_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """query-02 analog: category-filtered node selection."""
    nodes, _ = get_kg(spark, sf_dir)
    return nodes.filter(F.col("category") == "biolink:Protein").select(
        "id", "name", "category"
    )


def kg_one_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """query-03: 1-hop neighbours of the hub with OPTIONAL label (J11, J13).

    Edges are undirected co-occurrences stored once with subject < object,
    so the hop is the union of both orientations; the label join is
    left-outer (SPARQL OPTIONAL).
    """
    nodes, edges = get_kg(spark, sf_dir)
    cooc = edges.filter(F.col("predicate") == "biolink:correlated_with")
    nbrs = (
        cooc.filter(F.col("subject") == HUB).select(F.col("object").alias("id"))
        .unionAll(
            cooc.filter(F.col("object") == HUB).select(F.col("subject").alias("id"))
        )
        .distinct()
    )
    labels = F.broadcast(
        nodes.filter(F.col("category") != "biolink:Publication")
        .select("id", "name", "category")
    )
    return nbrs.join(labels, "id", "left").select("id", "name", "category")


def _undirected(cooc: DataFrame) -> DataFrame:
    return cooc.select("subject", "object").unionAll(
        cooc.select(F.col("object").alias("subject"), F.col("subject").alias("object"))
    )


def _und_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both directions of the co-occurrence edge list, hash-partitioned
    on ``subject`` and persisted once per input (a session artifact).

    r7: every iterative graph query (pagerank, components, the hop
    joins) re-derived this frame from the persisted KGX edge union
    EACH ROUND — at 32 shuffle partitions per branch that was ~130
    scan tasks per round and the dominant cost of the whole family at
    bench scale (measured: 110 stages / 8855 tasks for one 3-round
    traversal). One keyed exchange here
    (partition count = spark.sql.shuffle.partitions, the cluster knob,
    then AQE-coalesced by size) and every round reads a compact cached
    frame whose hashpartitioning(subject) the per-round joins and
    groupBys reuse outright (guide §2.4: establish the partitioning
    once). The frame is the dictionary-bounded pair set — KB-to-GB at
    any scale, never corpus-sized."""
    def build():
        _, edges = get_kg(spark, sf_dir)
        und = (
            _undirected(
                edges.filter(
                    F.col("predicate") == "biolink:correlated_with"
                )
            )
            .repartition(F.col("subject"))
            .persist()
        )
        und.count()
        return und

    return artifact(spark, sf_dir, "und_cooc", build)


def _cooc_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, deg) of the undirected co-occurrence graph, persisted once
    per input (a session artifact). ``kg_triangle_counts`` is its only
    reader; it joins the table twice (once per edge endpoint), and
    without the cache each join re-runs the union + aggregation.
    The frame is |V| ≤ |dictionary| rows — broadcast-sized here,
    bounded by the entity vocabulary at any scale. On the distinct-pair
    edge set, countDistinct(object) == count(*) incident edges; the
    distinct form is used so the cache stays correct even if a
    multi-edge source is ever merged in."""
    def build():
        und = _und_cooc(spark, sf_dir)
        deg = und.groupBy(F.col("subject").alias("id")).agg(
            F.countDistinct("object").alias("deg")
        ).persist()
        deg.count()
        return deg

    return artifact(spark, sf_dir, "cooc_degrees", build)


def kg_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """query-04: 2-hop self-join — x co-occurs with HUB, y co-occurs with x
    (J12). Returns distinct (mid, far) pairs, far ∉ {HUB}."""
    und = _und_cooc(spark, sf_dir)
    hop1 = und.filter(F.col("subject") == HUB).select(F.col("object").alias("mid"))
    hop2 = und.withColumnRenamed("subject", "mid").withColumnRenamed("object", "far")
    return (
        hop1.join(hop2, "mid")
        .filter(F.col("far") != HUB)
        .select("mid", "far")
        .distinct()
    )


CC_FIXPOINT_MAX_ROUNDS = 64  # safety cap ≫ any co-occurrence diameter


def kg_components_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-min connected components over the co-occurrence graph:
    one join + one min groupBy per round, iterated UNTIL NO LABEL
    CHANGES rather than a fixed round count — the true connected
    components at any diameter, with a driver-side changed-row count
    (one extra copartitioned join + count per round, the standard
    distributed-fixpoint termination test) and a safety cap.
    Oracle-expressible without unrolling: hash-min CC's fixpoint
    is min-reachable-id, which DuckDB computes as a recursive-CTE
    transitive closure — so this query keeps a full value-hash gate,
    unlike sketches."""
    return artifact(
        spark, sf_dir, "components_fixpoint",
        lambda: components_fixpoint_frame(_und_cooc(spark, sf_dir)),
    )


def components_fixpoint_frame(und: DataFrame) -> DataFrame:
    """(subject, object) undirected-edge frame → (id, component) at
    fixpoint. Frame-parametrized so the convergence pytest can drive a
    long path graph and the holdout forest can reuse it.

    ``und`` is joined every round, so it is persisted for the loop
    unless it is cached already; only a persist made here is undone
    (``kg_components_fixpoint`` passes the shared ``und_cooc``
    artifact, which other queries keep reading)."""
    owned = und.storageLevel == StorageLevel.NONE
    if owned:
        und = und.persist()
    # Per-round LINEAGE TRUNCATION, not just persist: a persisted frame
    # still nests the previous round's analyzed plan, and an
    # unknown-depth loop grows that nest until Catalyst itself OOMs
    # (observed on an 11-round path graph). localCheckpoint(eager)
    # materializes AND cuts the plan to a leaf — the unbounded-loop
    # discipline; a cluster deployment would use reliable checkpoint()
    # to a DFS dir for executor-loss tolerance. Each round's checkpoint
    # is released once the next one is materialized, so only the
    # returned labeling stays pinned.
    try:
        lbl = (
            und.select(F.col("subject").alias("id"))
            .distinct()
            .withColumn("lbl", F.col("id"))
            .localCheckpoint(eager=True)
        )
        for _ in range(CC_FIXPOINT_MAX_ROUNDS):
            nbr = (
                und.join(lbl, und.object == lbl.id)
                .select(und.subject.alias("id"), "lbl")
            )
            new = (
                lbl.unionByName(nbr)
                .groupBy("id")
                .agg(F.min("lbl").alias("lbl"))
                .localCheckpoint(eager=True)
            )
            changed = (
                new.join(lbl.withColumnRenamed("lbl", "old"), "id")
                .filter(F.col("lbl") != F.col("old"))
                .count()
            )
            _release(lbl)
            lbl = new
            if changed == 0:
                break
        else:
            # Never return a non-converged labeling: the oracle computes
            # the true transitive-closure fixpoint, so a cap-exhausted
            # partial result would diverge SILENTLY.
            _release(lbl)
            raise RuntimeError(
                f"hash-min components did not converge within "
                f"{CC_FIXPOINT_MAX_ROUNDS} rounds — graph diameter "
                f"exceeds the cap; raise CC_FIXPOINT_MAX_ROUNDS"
            )
    finally:
        if owned:
            und.unpersist()
    return lbl.select("id", F.col("lbl").alias("component"))


def _components_fixpoint_sql() -> str:
    """Fixpoint CC as a DuckDB recursive CTE: component(v) = min id
    reachable from v (hash-min's fixpoint). UNION (not UNION ALL)
    dedups the frontier, so the closure terminates; the entity set is
    gazetteer-bounded, so the closure is tiny at any corpus scale —
    the ORACLE is allowed that luxury, the Spark plan is not."""
    return """und AS (
  SELECT subject, object FROM cooc_edges
  UNION ALL
  SELECT object AS subject, subject AS object FROM cooc_edges
),
cc_nodes AS (SELECT DISTINCT subject AS id FROM und),
reach AS (
  SELECT id, id AS r FROM cc_nodes
  UNION
  SELECT und.subject AS id, reach.r AS r
  FROM und JOIN reach ON und.object = reach.id
)
SELECT id, min(r) AS component FROM reach GROUP BY id"""


def kg_druggable_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """query-05: the 2-hop restricted to drug endpoints (the reference's
    druggable-genome TDL='Tclin' constraint becomes category='biolink:Drug')."""
    nodes, _ = get_kg(spark, sf_dir)
    und = _und_cooc(spark, sf_dir)
    hop1 = und.filter(F.col("subject") == HUB).select(F.col("object").alias("mid"))
    hop2 = und.withColumnRenamed("subject", "mid").withColumnRenamed("object", "far")
    drugs = F.broadcast(
        nodes.filter(F.col("category") == "biolink:Drug")
        .select(F.col("id").alias("far"), F.col("name").alias("drug_name"))
    )
    return (
        hop1.join(hop2, "mid")
        .filter(F.col("far") != HUB)
        .join(drugs, "far")
        .select("mid", "far", "drug_name")
        .distinct()
    )


def kg_provided_by_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """query-06: COUNT per provided_by over merged edges, ORDER BY DESC."""
    _, edges = get_kg(spark, sf_dir)
    return (
        edges.groupBy("provided_by")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "provided_by")
    )


def kg_drug_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """query-07 analog: documents mentioning drug entities, with labels."""
    nodes, edges = get_kg(spark, sf_dir)
    m = edges.filter(F.col("predicate") == "biolink:mentions")
    drugs = F.broadcast(
        nodes.filter(F.col("category") == "biolink:Drug")
        .select(F.col("id").alias("object"), F.col("name").alias("drug_name"))
    )
    return m.join(drugs, "object").select(
        F.col("subject").alias("doc"), F.col("object").alias("drug"), "drug_name"
    )


def kg_mention_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity document frequency — the A3/A5 degree-count analog.
    The mention rows are distinct on (doc_id, curie) (see
    ``get_mentions``), so a row count is the document count."""
    m = get_mentions(spark, sf_dir)
    return m.groupBy("curie").agg(F.count("*").alias("n_docs"))


def _cooc_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (subject, object, n_docs) pair-support table: the cached pair
    counts of the mention set (``get_mention_set``), a
    ≤|dictionary|²-row frame."""
    return get_mention_set(spark, sf_dir)[1]


def kg_cooccurrence_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair co-occurrence support counts (A2 with counts kept).

    Pairs are expanded row-locally from each document's sorted mention
    array (plans/pipeline.cooc_pairs) — NOT via a mentions self-join on
    doc_id, which at 100 TB would shuffle the whole corpus on a
    corpus-sized key. The only shuffle is the final groupBy over
    ≤|dictionary|² pair keys, collapsed map-side by partial aggregation."""
    return _cooc_pair_counts(spark, sf_dir)


DELTA_MOD = 10  # doc_id % DELTA_MOD == 0 plays the freshly-arrived slice


def kg_cooc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-maintenance form of kg_cooccurrence_counts: the
    corpus is split into a BASE slice and a DELTA slice (a day's new
    crawl), pair counts are aggregated per slice, and the maintained
    view is the key-wise SUM merge — the additive-aggregate refresh a
    10^12-doc pipeline runs daily instead of recomputing the world.
    The DuckDB oracle is the plain FULL-corpus count: count(*) is a
    commutative monoid over disjoint slices, so incremental == full is
    the correctness contract, checked by hash every round. The merge
    groupBy is the same bounded ≤|dict|² key space; each slice's pair
    expansion is the row-local (no doc_id self-join) plan of the full
    query."""
    pm = get_mention_arrays(spark, sf_dir)
    base = pair_counts(pm.filter(F.col("doc_id") % DELTA_MOD != 0))
    delta = pair_counts(pm.filter(F.col("doc_id") % DELTA_MOD == 0))
    return (
        base.unionByName(delta)
        .groupBy("subject", "object")
        .agg(F.sum("n_docs").cast("long").alias("n_docs"))
    )


def kg_lift_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the DERIVED score, not just the
    counts: pair supports, per-entity document frequencies, and the
    corpus size are each maintained as key-wise SUM merges of BASE-
    and DELTA-slice aggregates (every input to lift is a commutative
    monoid over disjoint doc slices), then lift_ppm is recomputed
    from the maintained sufficient statistics, as
    n_docs · N · 10⁶ div (df_s · df_o) in exact integer ppm. The
    document frequencies are broadcast to the pair frame and N is a
    1-row broadcast crossJoin. The DuckDB oracle computes lift over
    the full corpus — incremental == full is the contract,
    hash-checked. This is the refresh a daily crawl runs:
    O(delta) new aggregation work + a dictionary-bounded merge;
    the division is the only non-additive step and it happens LAST,
    on the merged statistics (re-deriving scores from maintained
    sums is what makes the score refreshable at all)."""
    pm = get_mention_arrays(spark, sf_dir)
    m = get_mentions(spark, sf_dir)
    is_delta = F.col("doc_id") % DELTA_MOD == 0

    pairs = (
        pair_counts(pm.filter(~is_delta))
        .unionByName(pair_counts(pm.filter(is_delta)))
        .groupBy("subject", "object")
        .agg(F.sum("n_docs").cast("long").alias("n_docs"))
    )

    def _dfreq(side):
        return side.groupBy("curie").agg(
            F.countDistinct("doc_id").alias("df")
        )

    dfreq = (
        _dfreq(m.filter(~is_delta))
        .unionByName(_dfreq(m.filter(is_delta)))
        .groupBy("curie")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    n_total = (
        m.filter(~is_delta)
        .agg(F.countDistinct("doc_id").alias("n"))
        .unionByName(
            m.filter(is_delta).agg(F.countDistinct("doc_id").alias("n"))
        )
        .agg(F.sum("n").cast("long").alias("n_total"))
    )
    return (
        pairs.join(
            F.broadcast(
                dfreq.select(
                    F.col("curie").alias("subject"), F.col("df").alias("df_s")
                )
            ),
            "subject",
        )
        .join(
            F.broadcast(
                dfreq.select(
                    F.col("curie").alias("object"), F.col("df").alias("df_o")
                )
            ),
            "object",
        )
        .crossJoin(F.broadcast(n_total))
        .select(
            "subject",
            "object",
            "n_docs",
            "df_s",
            "df_o",
            F.expr(
                "n_docs * n_total * 1000000L div (df_s * df_o)"
            ).alias("lift_ppm"),
        )
    )


def kg_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity triangle participation over the co-occurrence graph —
    the clustering-structure metric next to degree (A5).

    Edges are oriented lower-degree → higher-degree endpoint (ties by
    id) before enumeration — the standard degree-ordering refinement.
    Under id-ordering a degree-d hub contributes d² wedge rows (Σ deg²
    ≈ quadratic in the hub degree on a power-law web graph); under
    degree-ordering every out-neighborhood is ≤ O(√m) amortized, so
    the wedge intermediate is O(m^1.5) worst case and far smaller in
    practice — hubs sit on the *closing* side of the join, never the
    wedge-generating side. Each triangle {a,b,c} with a<b<c in
    (degree, id) order is produced exactly once as a→b, a→c wedge
    closed by b→c. The triangle set is orientation-invariant, so the
    DuckDB oracle (plain a<b<c id-ordering) is unchanged.

    The edges are the pinned undirected co-occurrence frame, one
    direction kept, rather than a filter over every KG edge."""
    e = _und_cooc(spark, sf_dir).filter(F.col("subject") < F.col("object"))
    deg = _cooc_degrees(spark, sf_dir)  # persisted (id, deg)
    return triangle_counts_frame(e, deg, degree_ordered=True)


def triangle_counts_frame(
    e: DataFrame, deg: DataFrame, degree_ordered: bool = True
) -> DataFrame:
    """Edge-frame-parametrized triangle core: ``e`` is one row per
    undirected edge (either direction), ``deg`` is (id, deg).

    degree_ordered=True is the production orientation (what
    kg_triangle_counts uses, O(m^1.5) wedge bound); degree_ordered=False
    orients by id alone — same output, but the wedge intermediate is
    Σ out-deg², which a low-id hub turns quadratic. The planted-hub test
    checks that both orientations agree."""
    ed = e.join(
        deg.select(F.col("id").alias("subject"), F.col("deg").alias("ds")),
        "subject",
    ).join(
        deg.select(F.col("id").alias("object"), F.col("deg").alias("do")),
        "object",
    )
    if degree_ordered:
        fwd = (F.col("ds") < F.col("do")) | (
            (F.col("ds") == F.col("do"))
            & (F.col("subject") < F.col("object"))
        )
    else:
        fwd = F.col("subject") < F.col("object")
    o = ed.select(
        F.when(fwd, F.col("subject")).otherwise(F.col("object")).alias("src"),
        F.when(fwd, F.col("object")).otherwise(F.col("subject")).alias("dst"),
        F.when(fwd, F.col("do")).otherwise(F.col("ds")).alias("deg_dst"),
        F.when(fwd, F.col("object")).otherwise(F.col("subject")).alias("id_dst"),
    )
    if degree_ordered:
        later = (F.col("deg_b") < F.col("deg_c")) | (
            (F.col("deg_b") == F.col("deg_c")) & (F.col("b") < F.col("c"))
        )
        ord_col = "deg_dst"
    else:
        later = F.col("b") < F.col("c")
        ord_col = "id_dst"
    w1 = o.select(
        F.col("src").alias("a"), F.col("dst").alias("b"),
        F.col(ord_col).alias("deg_b"),
    )
    w2 = o.select(
        F.col("src").alias("a"), F.col("dst").alias("c"),
        F.col(ord_col).alias("deg_c"),
    )
    # one (a, b, c) row per triangle: the a→b, a→c wedge closed by b→c
    tri = w1.join(w2, "a").filter(later).join(
        o.select(F.col("src").alias("b"), F.col("dst").alias("c")),
        ["b", "c"],
    ).select("a", "b", "c")
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("n_triangles"))
    )


def kg_schema_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Biolink domain/range validation — the KG-construction QA gate
    the north star's "typed against the Biolink model" clause implies:
    every edge's (predicate, subject_category, object_category) triple
    is checked against the model's domain/range rules (mentions:
    Publication → entity; correlated_with: entity ↔ entity) and the
    result is a tiny rollup with a `valid` flag, so a violation burst
    from a bad source lands in monitoring instead of the merged graph.

    Scale shape: the category lookup is SPLIT by id prefix — CORD:*
    (the 10¹²-row publication side) resolves to biolink:Publication as
    pure column algebra with NO join, while the entity side joins the
    dictionary-bounded term-node table broadcast. The expensive join a
    naive validator would do (edges × full node table, shuffling the
    publication rows) never happens; unknown endpoints degrade to
    biolink:NamedThing exactly like the reference's category guesser
    (transform_utils.py:185-202)."""
    nodes, edges = get_kg(spark, sf_dir)
    term_cat = nodes.filter(
        F.col("category") != "biolink:Publication"
    ).select("id", "category").distinct()
    return schema_validation_frame(edges, term_cat)


def schema_validation_frame(
    edges: DataFrame, term_cat: DataFrame
) -> DataFrame:
    """(edges, dictionary-bounded (id, category)) → per-(predicate,
    subject_category, object_category, valid) counts."""
    tc = F.broadcast(term_cat)
    e = edges.select("subject", "predicate", "object").join(
        tc.select(
            F.col("id").alias("subject"), F.col("category").alias("s_cat")
        ),
        "subject",
        "left",
    ).join(
        tc.select(
            F.col("id").alias("object"), F.col("category").alias("o_cat")
        ),
        "object",
        "left",
    )

    def cat(side: str, joined: str) -> F.Column:
        return F.when(
            F.col(side).startswith("CORD:"), F.lit("biolink:Publication")
        ).otherwise(F.coalesce(F.col(joined), F.lit("biolink:NamedThing")))

    s = cat("subject", "s_cat")
    o = cat("object", "o_cat")
    pub = F.lit("biolink:Publication")
    valid = (
        (F.col("predicate") == "biolink:mentions")
        & (s == pub)
        & (o != pub)
    ) | (
        (F.col("predicate") == "biolink:correlated_with")
        & (s != pub)
        & (o != pub)
    )
    return (
        e.select(
            "predicate",
            s.alias("subject_category"),
            o.alias("object_category"),
            valid.alias("valid"),
        )
        .groupBy("predicate", "subject_category", "object_category", "valid")
        .agg(F.count("*").alias("n"))
    )


# Docs with doc_id % 10 == MERGE_DELTA_MOD form "today's crawl" — the
# deterministic delta slice the incremental-merge rollup ingests against
# the graph built from everything else.
MERGE_DELTA_MOD = 9


def kg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-vs-graph incremental merge rollup — the KG-side twin of
    doc_incremental_neardup (the continuous-crawl ingest shape): the
    graph built from the INDEX docs (doc_id % 10 != MERGE_DELTA_MOD) is
    the standing artifact, the remaining docs are today's crawl, and
    the rollup reports how much of the delta's extraction output is
    genuinely NEW vs already KNOWN — per kind (term_node / cooc_edge /
    mention_edge), the ingest-monitoring number a merge pipeline gates
    on before committing a new graph version (reference merge shape:
    merge_kg.py:22-34, where every source union is followed by
    id-keyed dedup — this query measures what that dedup would drop).

    Scale shape: both join sides are DICTIONARY-bounded after their
    distincts (pairs ≤ |dict|², terms ≤ |dict|), so the new/known left
    joins never see corpus-sized inputs regardless of crawl size;
    mention edges are new by construction (fresh doc subjects) and are
    counted without any join. The per-doc pair expansion is row-local
    (cooc_pairs) off the regrouped mention arrays — zero extra corpus
    scans beyond the shared materialization every kg_* query reuses."""
    arrays = get_mention_arrays(spark, sf_dir)
    is_delta = (F.col("doc_id") % 10) == MERGE_DELTA_MOD
    return incremental_merge_frame(
        arrays.filter(~is_delta), arrays.filter(is_delta)
    )


def incremental_merge_frame(idx: DataFrame, delta: DataFrame) -> DataFrame:
    """(index (doc_id, curies), delta (doc_id, curies)) → per-(kind,
    status) counts with kind ∈ {term_node, cooc_edge, mention_edge},
    status ∈ {new, known}."""

    def dpairs(df: DataFrame) -> DataFrame:
        return cooc_pairs(df).distinct()

    def dterms(df: DataFrame) -> DataFrame:
        return (
            df.select(F.explode_outer("curies").alias("curie"))
            .filter(F.col("curie").isNotNull())
            .distinct()
        )

    status = (
        F.when(F.col("known").isNotNull(), F.lit("known"))
        .otherwise(F.lit("new"))
        .alias("status")
    )
    pair_roll = (
        dpairs(delta)
        .join(
            dpairs(idx).withColumn("known", F.lit(1)),
            ["subject", "object"],
            "left",
        )
        .groupBy(status)
        .agg(F.count("*").alias("n"))
        .select(F.lit("cooc_edge").alias("kind"), "status", "n")
    )
    term_roll = (
        dterms(delta)
        .join(dterms(idx).withColumn("known", F.lit(1)), "curie", "left")
        .groupBy(status)
        .agg(F.count("*").alias("n"))
        .select(F.lit("term_node").alias("kind"), "status", "n")
    )
    mention_roll = (
        delta.select(F.explode_outer("curies").alias("curie"))
        .filter(F.col("curie").isNotNull())
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("mention_edge").alias("kind"),
            F.lit("new").alias("status"),
            "n",
        )
    )
    return pair_roll.unionByName(term_roll).unionByName(mention_roll)


LINK_MAX_DIST = 2


def _deletion_keys(col: str) -> F.Column:
    """SymSpell blocking keys: every string reachable from `col` by
    deleting ≤ LINK_MAX_DIST (=2) characters, the string itself
    included. Pure higher-order-function column expression — stays in
    whole-stage codegen, no Python. lev(a,b) ≤ 2 guarantees the two
    key sets intersect (a substitution deletes one char from both
    sides, an insertion/deletion deletes one char from exactly one
    side), so an equi-join on these keys is a lossless candidate
    generator for the ≤2 edit-distance verify."""
    d1 = (
        f"transform(sequence(1, length({col})), i -> "
        f"concat(substring({col}, 1, i-1), substring({col}, i+1, 1000000)))"
    )
    d2 = (
        f"flatten(transform({d1}, s -> CASE WHEN length(s) < 1 THEN "
        f"array() ELSE transform(sequence(1, length(s)), j -> "
        f"concat(substring(s, 1, j-1), substring(s, j+1, 1000000))) END))"
    )
    return F.expr(f"array_distinct(concat(array({col}), {d1}, {d2}))")


def kg_linked_mentions_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scored entity linking (north-star: "entity linking scores
    candidate mentions against a broadcast ontology/CURIE dictionary"):
    every distinct corpus token is scored against every normalized
    gazetteer surface by edit distance; candidates within
    LINK_MAX_DIST link to the (distance, curie)-minimal entry — a
    deterministic argmin, no RNG, no ties left to the engine.

    Scale shape: distinct tokens are a dictionary-bounded groupBy
    (vocabulary, not corpus, sized); candidate generation is BLOCKED,
    not a nested loop — both sides explode into their ≤2-deletion
    neighborhoods (the SymSpell key set: lev(a,b) ≤ 2 ⟹ some string
    is reachable from both by ≤2 single-character deletions, because
    each edit op deletes ≤1 char from each side), the join is a
    broadcast HASH join on that block key, and only the surviving
    candidates pay the O(len²) levenshtein verify. A 10⁶-surface
    dictionary costs |dict|·O(len²) keys instead of |vocab|·|dict|
    edit-distance evaluations — linearithmic candidates, identical
    output (the blocking is lossless for d ≤ LINK_MAX_DIST, so the
    full-semantics DuckDB oracle is unchanged). The argmin is a
    partial-agg min over a struct key and is insensitive to the
    duplicate candidates multiple shared block keys produce."""
    gaz = local_frame(
        spark,
        normalized_gazetteer(),
        "term string, curie string, name string, category string",
    ).select("term", "curie")
    return linked_mentions_scored(spark, sf_dir, gaz)


def linked_mentions_scored(
    spark: SparkSession, sf_dir: str, gaz: DataFrame
) -> DataFrame:
    """The dictionary-parametrized core of kg_linked_mentions_scored —
    ``gaz`` is any (term, curie) frame; the stress test drives it with
    a 5k-surface synthetic dictionary to exercise the blocked join at
    realistic dictionary scale.

    Two guards keep the key explosion bounded:
    * tokens longer than max(term length) + LINK_MAX_DIST are filtered
      BEFORE exploding — lossless (|len(a)−len(b)| ≤ lev(a,b)), and it
      stops a single pathological unbroken blob (a 10 KB base64 run)
      from generating len²/2 deletion keys;
    * the join strategy is chosen EXPLICITLY from the dictionary size
      (see score_linked_tokens) — the optimizer cannot be trusted with
      it: explode wrecks size estimates, and at sf1 the planner tried
      to broadcast the EXPLODED VOCABULARY side (~50M deletion keys
      from 1.1M distinct tokens) and died on the driver.
    """
    docs = read_table(spark, sf_dir, "documents")
    gaz_row = gaz.agg(
        F.max(F.length("term")).alias("m"),
        F.count("*").alias("n"),
        F.concat_ws("", F.collect_set("term")).alias("chars"),
    ).collect()  # dictionary-sized aggregation: three scalars, one action
    max_tok_len = int(gaz_row[0]["m"] or 0) + LINK_MAX_DIST
    n_terms = int(gaz_row[0]["n"])
    # alphabet prefilter (r7, guide §3.2 — drop definitely-non-matching
    # rows before the exploding join): lev(a, b) ≤ LINK_MAX_DIST means
    # ≤ LINK_MAX_DIST edit ops, and each op can account for at most ONE
    # character of `a` absent from `b` — so a token with more than
    # LINK_MAX_DIST characters outside the union dictionary alphabet is
    # beyond the distance bound to EVERY term. Lossless: pruned tokens
    # can produce no candidate, and unmatched tokens never reach the
    # output. On the sf1 vocabulary this removes 96.9% of distinct
    # tokens before the distinct + ~34-key-per-token explosion
    # (measured; the synthetic long-tail tokens are hex-ish).
    alphabet = "".join(sorted(set(gaz_row[0]["chars"] or "")))
    toks = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(
            (F.col("token") != "")
            & (F.length("token") <= max_tok_len)
            & (
                F.length(F.translate(F.col("token"), alphabet, ""))
                <= LINK_MAX_DIST
            )
        )
        .distinct()
    )
    return score_linked_tokens(toks, gaz, n_terms=n_terms)


LINK_BROADCAST_MAX_TERMS = 65_536  # dict sizes whose exploded keys fit


def score_linked_tokens(
    toks: DataFrame, gaz: DataFrame, n_terms: int | None = None
) -> DataFrame:
    """Token-frame-parametrized blocked-linking core: ``toks`` is any
    distinct (token) frame, ``gaz`` any (term, curie) frame. Production
    feeds the corpus vocabulary; the bench's dictionary slice feeds a
    capped vocabulary so the blocked equi-join can be timed against a
    nested-loop twin on identical inputs.

    The join strategy is decided HERE from one dictionary-sized count,
    never by the size estimator: Catalyst treats explode output as
    input-sized, so at sf1 it estimated 50M vocabulary deletion keys as
    ~10 MB and broadcast the corpus side of the join into a driver OOM.
    A dictionary ≤ LINK_BROADCAST_MAX_TERMS surfaces (the gazetteer
    contract — the north-star "broadcast ontology/CURIE dictionary")
    pins broadcast of the DICTIONARY keys; anything bigger pins a
    shuffle-hash join on the block key (hash-partition both exploded
    sides, no broadcast build, no sort of exploded strings).

    ``n_terms`` lets callers that already aggregated the dictionary
    (linked_mentions_scored folds the count into its max-term-length
    action) supply the size without a second scan; plan construction
    stays action-free for them. Only when no size is supplied does the
    strategy probe run its own dictionary-sized count."""
    tok_keys = toks.select(
        "token", F.explode(_deletion_keys("token")).alias("k")
    )
    gaz_keys = gaz.select(
        "term", "curie", F.explode(_deletion_keys("term")).alias("k")
    )
    if n_terms is None:
        n_terms = gaz.count()
    if n_terms <= LINK_BROADCAST_MAX_TERMS:
        gaz_keys = F.broadcast(gaz_keys)
    else:
        gaz_keys = gaz_keys.hint("shuffle_hash")
    d = F.levenshtein(F.col("token"), F.col("term"))
    scored = (
        tok_keys.join(gaz_keys, "k")
        .filter(d <= LINK_MAX_DIST)
        .select("token", "curie", d.alias("distance"))
    )
    best = scored.groupBy("token").agg(
        F.min(F.struct("distance", "curie")).alias("b")
    )
    return best.select(
        "token", F.col("b.curie").alias("curie"),
        F.col("b.distance").alias("distance"),
    )


PR_ITERS = 3
PR_BASE_PPM = 150_000
PR_DAMP_PPM = 850_000
_PPM = 1_000_000


def kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact — see _pagerank_build."""
    return artifact(
        spark, sf_dir, "pagerank",
        lambda: _pagerank_build(spark, sf_dir),
    )


def _rank_update_expr(s_col: str = "s") -> str:
    """The damped rank update ``base + (damp * s) div ppm`` with the
    multiply WIDENED to DECIMAL(38,0): in int64 ``PR_DAMP_PPM * s``
    overflows once the summed in-mass ``s`` exceeds ~1.08e13 ppm — a
    single hub with ~10⁷ full-rank in-neighbors (the star-graph ceiling
    SCALE.md used to document). Decimal(38,0) holds ~1e38, so the
    ceiling moves past any real web graph; every other quantity (ranks,
    contributions, message sums) is bounded by total mass ≈ |V|·1e6 and
    stays in int64 to ~9e12 vertices. All values are non-negative, so
    ``floor(a / 1e6)`` here ≡ DuckDB's ``//`` on HUGEINT in the oracle —
    the update stays integer-exact and engine-identical (the division
    by 10^6 is exact at decimal scale 6; floor then truncates
    identically in both engines)."""
    return (
        f"CAST({PR_BASE_PPM} + CAST(floor("
        f"(CAST({PR_DAMP_PPM} AS DECIMAL(38,0)) * coalesce({s_col}, 0L))"
        f" / {_PPM}) AS BIGINT) AS LONG)"
    )


def _pagerank_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity importance over the co-occurrence graph: PR_ITERS rounds
    of damped degree-normalized message passing (PageRank power
    iteration) — the engine's iterative-algorithm surface.

    All arithmetic is integer parts-per-million with `div` (floor
    division): integer sums are order-independent, so the result is
    bit-identical at any parallelism and in DuckDB (the oracle unrolls
    the same three iterations as CTEs) — float ranks would hash-diverge
    on summation order. Each round is one broadcast-or-copartitioned
    join (ranks ⋈ degrees), one message groupBy (partial-agg friendly),
    and one left join back to the node set — the canonical distributed
    PageRank shape; production runs would checkpoint ranks per round to
    cut lineage. The damp multiply is widened to DECIMAL(38,0)
    (_rank_update_expr) so the former ~10^7-vertex star-graph int64
    ceiling cannot occur; remaining int64 quantities are bounded by
    total mass ≈ |V|·1e6 (safe to ~9e12 vertices)."""
    und = _und_cooc(spark, sf_dir)
    # localCheckpoint the loop-invariant degree table and each round's
    # ranks (r7; was persist+count+unpersist): checkpointing both
    # materializes each round AND truncates its plan to a leaf, so
    # round k's Catalyst analysis no longer re-nests every earlier
    # round (the measured growing-round-wall effect) — the same
    # discipline as the fixpoint loops. A round's ranks are released
    # once the next round is materialized, and the degree table once
    # the loop ends, so only the returned ranks stay pinned.
    deg = und.groupBy(F.col("subject").alias("id")).agg(
        F.count("*").alias("deg")
    ).localCheckpoint(eager=True)
    r = deg.select("id", F.lit(_PPM).cast("long").alias("r"))
    for i in range(PR_ITERS):
        contrib = r.join(deg, "id").select(
            "id", F.expr("r div deg").alias("c")
        )
        msgs = (
            und.join(contrib, F.col("subject") == F.col("id"))
            .groupBy(F.col("object").alias("mid"))
            .agg(F.sum("c").alias("s"))
        )
        prev, r = r, (
            deg.select("id")
            .join(msgs, F.col("id") == F.col("mid"), "left")
            .select("id", F.expr(_rank_update_expr("s")).alias("r"))
            .localCheckpoint(eager=True)
        )
        if i:  # round 0's ranks are a projection of deg, not a checkpoint
            _release(prev)
    _release(deg)
    return r.select("id", F.col("r").alias("rank_ppm"))


def _pagerank_sql() -> str:
    parts = [
        """und AS (
  SELECT subject, object FROM cooc_edges
  UNION ALL
  SELECT object AS subject, subject AS object FROM cooc_edges
)""",
        "deg AS (SELECT subject AS id, count(*) AS deg FROM und GROUP BY subject)",
        "r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM deg)",
    ]
    for k in range(PR_ITERS):
        parts.append(
            f"c{k} AS (SELECT r{k}.id, r{k}.r // d.deg AS c "
            f"FROM r{k} JOIN deg d ON r{k}.id = d.id)"
        )
        parts.append(
            f"m{k} AS (SELECT und.object AS id, sum(c{k}.c) AS s "
            f"FROM und JOIN c{k} ON und.subject = c{k}.id GROUP BY und.object)"
        )
        parts.append(
            f"r{k + 1} AS (SELECT d.id, CAST({PR_BASE_PPM} + "
            f"({PR_DAMP_PPM} * coalesce(m{k}.s, 0)) // {_PPM} AS BIGINT) AS r "
            f"FROM deg d LEFT JOIN m{k} ON d.id = m{k}.id)"
        )
    return ",\n".join(parts) + f"\nSELECT id, r AS rank_ppm FROM r{PR_ITERS}"


KG_QUERIES = {
    "kg_category_counts": kg_category_counts,
    "kg_protein_nodes": kg_protein_nodes,
    "kg_one_hop": kg_one_hop,
    "kg_two_hop": kg_two_hop,
    "web_extract_parity": _web_extract_parity,
    "kg_druggable_two_hop": kg_druggable_two_hop,
    "kg_provided_by_counts": kg_provided_by_counts,
    "kg_drug_mentions": kg_drug_mentions,
    "kg_mention_counts": kg_mention_counts,
    "kg_cooccurrence_counts": kg_cooccurrence_counts,
    "kg_cooc_incremental": kg_cooc_incremental,
    "kg_lift_incremental": kg_lift_incremental,
    "kg_pagerank": kg_pagerank,
    "kg_linked_mentions_scored": kg_linked_mentions_scored,
    "kg_triangle_counts": kg_triangle_counts,
    "kg_schema_validation": kg_schema_validation,
    "kg_incremental_merge": kg_incremental_merge,
    "kg_components_fixpoint": kg_components_fixpoint,
}


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _linkdict_sql() -> str:
    rows = ",\n    ".join(
        f"({_q(t)}, {_q(c)})" for t, c, _n, _cat in normalized_gazetteer()
    )
    return f"linkdict(term, curie) AS (VALUES\n    {rows})"

_CTE = kg_cte_sql()


KG_ORACLES = {
    "kg_category_counts": f"""
WITH {_CTE}
SELECT category, count(*) AS n FROM nodes GROUP BY category
""",
    "kg_protein_nodes": f"""
WITH {_CTE}
SELECT id, name, category FROM nodes WHERE category = 'biolink:Protein'
""",
    "kg_one_hop": f"""
WITH {_CTE},
nbrs AS (
  SELECT DISTINCT id FROM (
    SELECT object AS id FROM cooc_edges WHERE subject = '{HUB}'
    UNION ALL
    SELECT subject AS id FROM cooc_edges WHERE object = '{HUB}'
  )
)
SELECT n.id, t.name, t.category
FROM nbrs n LEFT JOIN term_nodes t ON n.id = t.id
""",
    "kg_two_hop": f"""
WITH {_CTE},
und AS (
  SELECT subject, object FROM cooc_edges
  UNION ALL
  SELECT object AS subject, subject AS object FROM cooc_edges
)
SELECT DISTINCT h1.object AS mid, h2.object AS far
FROM und h1 JOIN und h2 ON h1.object = h2.subject
WHERE h1.subject = '{HUB}' AND h2.object <> '{HUB}'
""",
    # the kernel inverts the deterministic html wrapping exactly on the
    # printable-ASCII corpus, so the oracle is the raw text — any
    # extraction drift breaks the hash
    "web_extract_parity": """
SELECT doc_id, text FROM documents
""",
    "kg_druggable_two_hop": f"""
WITH {_CTE},
und AS (
  SELECT subject, object FROM cooc_edges
  UNION ALL
  SELECT object AS subject, subject AS object FROM cooc_edges
)
SELECT DISTINCT h1.object AS mid, h2.object AS far, t.name AS drug_name
FROM und h1
JOIN und h2 ON h1.object = h2.subject
JOIN term_nodes t ON h2.object = t.id AND t.category = 'biolink:Drug'
WHERE h1.subject = '{HUB}' AND h2.object <> '{HUB}'
""",
    "kg_provided_by_counts": f"""
WITH {_CTE}
SELECT provided_by, count(*) AS n FROM edges GROUP BY provided_by
ORDER BY n DESC, provided_by
""",
    "kg_drug_mentions": f"""
WITH {_CTE}
SELECT e.subject AS doc, e.object AS drug, t.name AS drug_name
FROM mention_edges e
JOIN term_nodes t ON e.object = t.id AND t.category = 'biolink:Drug'
""",
    "kg_mention_counts": f"""
WITH {_CTE}
SELECT curie, count(DISTINCT doc_id) AS n_docs FROM mentions GROUP BY curie
""",
    "kg_cooccurrence_counts": f"""
WITH {_CTE}
SELECT a.curie AS subject, b.curie AS object, count(*) AS n_docs
FROM mentions a JOIN mentions b
  ON a.doc_id = b.doc_id AND a.curie < b.curie
GROUP BY a.curie, b.curie
""",
    # incremental == full: count over disjoint slices is additive, so
    # the maintained view must hash-equal the full-corpus aggregation
    "kg_cooc_incremental": f"""
WITH {_CTE}
SELECT a.curie AS subject, b.curie AS object, count(*) AS n_docs
FROM mentions a JOIN mentions b
  ON a.doc_id = b.doc_id AND a.curie < b.curie
GROUP BY a.curie, b.curie
""",
    # incremental == full: every sufficient statistic of lift (pair
    # supports, doc frequencies, N) is additive over disjoint doc
    # slices, so the maintained view must hash-equal the full-corpus
    # score — same contract family as kg_cooc_incremental
    "kg_lift_incremental": f"""
WITH {_CTE},
pair AS (
  SELECT a.curie AS subject, b.curie AS object, count(*) AS n_docs
  FROM mentions a JOIN mentions b
    ON a.doc_id = b.doc_id AND a.curie < b.curie
  GROUP BY a.curie, b.curie
),
dfreq AS (
  SELECT curie, count(DISTINCT doc_id) AS df FROM mentions GROUP BY curie
),
tot AS (SELECT count(DISTINCT doc_id) AS n_total FROM mentions)
SELECT p.subject, p.object, p.n_docs, ds.df AS df_s, dobj.df AS df_o,
       CAST(p.n_docs * t.n_total * 1000000 // (ds.df * dobj.df) AS BIGINT)
         AS lift_ppm
FROM pair p
JOIN dfreq ds ON p.subject = ds.curie
JOIN dfreq dobj ON p.object = dobj.curie
CROSS JOIN tot t
""",
    "kg_pagerank": f"""
WITH {_CTE},
{_pagerank_sql()}
""",
    "kg_linked_mentions_scored": f"""
WITH {_linkdict_sql()},
toks AS (
  SELECT DISTINCT unnest(string_split(text, ' ')) AS token FROM documents
),
scored AS (
  SELECT t.token, g.curie, levenshtein(t.token, g.term) AS distance
  FROM toks t, linkdict g
  WHERE t.token <> ''
    AND abs(length(t.token) - length(g.term)) <= {LINK_MAX_DIST}
    AND levenshtein(t.token, g.term) <= {LINK_MAX_DIST}
),
ranked AS (
  SELECT token, curie, distance,
         row_number() OVER (PARTITION BY token
                            ORDER BY distance, curie) AS rn
  FROM scored
)
SELECT token, curie, distance FROM ranked WHERE rn = 1
""",
    "kg_triangle_counts": f"""
WITH {_CTE},
tri AS (
  SELECT ab.subject AS a, ab.object AS b, bc.object AS c
  FROM cooc_edges ab
  JOIN cooc_edges bc ON ab.object = bc.subject
  JOIN cooc_edges ac ON ac.subject = ab.subject AND ac.object = bc.object
),
members AS (
  SELECT a AS id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT id, count(*) AS n_triangles FROM members GROUP BY id
""",
    "kg_schema_validation": f"""
WITH {_CTE},
typed AS (
  SELECT e.predicate,
    CASE WHEN e.subject LIKE 'CORD:%' THEN 'biolink:Publication'
         ELSE coalesce(ts.category, 'biolink:NamedThing') END
      AS subject_category,
    CASE WHEN e.object LIKE 'CORD:%' THEN 'biolink:Publication'
         ELSE coalesce(tt.category, 'biolink:NamedThing') END
      AS object_category
  FROM edges e
  LEFT JOIN term_nodes ts ON e.subject = ts.id
  LEFT JOIN term_nodes tt ON e.object = tt.id
)
SELECT predicate, subject_category, object_category,
  ((predicate = 'biolink:mentions'
    AND subject_category = 'biolink:Publication'
    AND object_category <> 'biolink:Publication')
   OR (predicate = 'biolink:correlated_with'
    AND subject_category <> 'biolink:Publication'
    AND object_category <> 'biolink:Publication')) AS valid,
  count(*) AS n
FROM typed GROUP BY 1, 2, 3, 4
""",
    "kg_incremental_merge": f"""
WITH {_CTE},
delta_m AS (
  SELECT doc_id, curie FROM mentions WHERE doc_id % 10 = {MERGE_DELTA_MOD}
),
idx_m AS (
  SELECT doc_id, curie FROM mentions WHERE doc_id % 10 <> {MERGE_DELTA_MOD}
),
delta_p AS (
  SELECT DISTINCT a.curie AS s, b.curie AS o
  FROM delta_m a JOIN delta_m b ON a.doc_id = b.doc_id AND a.curie < b.curie
),
idx_p AS (
  SELECT DISTINCT a.curie AS s, b.curie AS o
  FROM idx_m a JOIN idx_m b ON a.doc_id = b.doc_id AND a.curie < b.curie
),
delta_t AS (SELECT DISTINCT curie FROM delta_m),
idx_t AS (SELECT DISTINCT curie FROM idx_m)
SELECT 'cooc_edge' AS kind,
       CASE WHEN i.s IS NULL THEN 'new' ELSE 'known' END AS status,
       count(*) AS n
FROM delta_p d LEFT JOIN idx_p i ON d.s = i.s AND d.o = i.o
GROUP BY 1, 2
UNION ALL
SELECT 'term_node',
       CASE WHEN i.curie IS NULL THEN 'new' ELSE 'known' END,
       count(*)
FROM delta_t d LEFT JOIN idx_t i ON d.curie = i.curie
GROUP BY 1, 2
UNION ALL
SELECT 'mention_edge', 'new', count(*) FROM delta_m
""",
    "kg_components_fixpoint": f"""
WITH RECURSIVE {_CTE},
{_components_fixpoint_sql()}
""",
}

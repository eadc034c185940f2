"""ML holdout construction (reference: make_holdouts.py + run.py:130-198).

The reference splits the merged graph into train/test/valid positive edge
sets and samples negative (non-)edges, filtering them against the positives
with a pandas left-anti merge (make_holdouts.py:184-191).

Spark-first, and *better than randomSplit at scale*: splits are **hash-
based** — bucket = md5(edge key) mod 10 → train 0-7, valid 8, test 9.
Hash splits are deterministic across runs, parallelism levels and engines
(randomSplit is partition-order dependent), reproducible without storing
the split, and exactly what production corpus pipelines use. Negative
sampling is likewise hash-ordered: candidate pairs ranked by md5(pair),
anti-joined against ALL positive edges, first N kept.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.corpus import _release, artifact, local_frame
from ..functions.hashing import hash_mod_sql as _hash_mod_sql
from ..plans.merged import get_merged

N_NEG = 100
CAND_NODES = 40  # candidate universe: first nodes by md5(id)


def _bucket10(*cols: Column | str) -> Column:
    return (
        F.conv(F.substring(F.md5(F.concat_ws("|", *cols)), 1, 15), 16, 10)
        .cast("long")
        % 10
    )


def edge_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every merged edge tagged train/valid/test by hash bucket (8/1/1)."""
    _, edges = get_merged(spark, sf_dir)
    b = _bucket10("subject", "predicate", "object")
    return edges.select(
        "subject",
        "predicate",
        "object",
        F.when(b <= 7, "train").when(b == 8, "valid").otherwise("test").alias("split"),
    )


def holdout_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split sizes — the reference's 0.8/0.1/0.1 fraction assertion
    (tests/test_holdouts.py:60-120) as an aggregate."""
    return edge_splits(spark, sf_dir).groupBy("split").agg(F.count("*").alias("n"))


def connected_edge_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node-coverage-preserving split (X1's custom variant).

    The reference's primary holdout path (ensmallen
    ``random_holdout``, make_holdouts.py:59-75) keeps the training
    graph connected so every node stays learnable. The distributed,
    connected-components-free analog: each node's minimum-hash incident
    edge is FORCED into train (one groupBy on node + one semi-join on
    the edge hash — no iterative CC), the rest split 8/1/1 by edge
    hash. Guarantees every non-isolated node has ≥1 train edge;
    deterministic at any parallelism. At 100 TB both shuffles are
    single-key exchanges; the anchor set is ≤|V| rows and joins on the
    edge hash, so AQE can pick the strategy per scale."""
    _, edges = get_merged(spark, sf_dir)
    h = F.md5(F.concat_ws("|", "subject", "predicate", "object"))
    e = edges.select("subject", "predicate", "object", h.alias("h"))
    anchors = (
        e.select(F.explode(F.array("subject", "object")).alias("node"), "h")
        .groupBy("node")
        .agg(F.min("h").alias("h"))
        .select("h")
        .distinct()
        .withColumn("forced", F.lit(True))
    )
    b = _bucket10("subject", "predicate", "object")
    return (
        e.join(anchors, "h", "left")
        .select(
            "subject",
            "predicate",
            "object",
            F.when(F.col("forced"), "train")
            .when(b <= 7, "train")
            .when(b == 8, "valid")
            .otherwise("test")
            .alias("split"),
        )
    )


def holdout_coverage_split_counts(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """Split sizes for the cheap coverage-preserving variant."""
    return (
        connected_edge_splits(spark, sf_dir)
        .groupBy("split")
        .agg(F.count("*").alias("n"))
    )


FOREST_BFS_UNROLL = 16  # BFS relaxation rounds; raise past it


def spanning_forest_hashes(edges_h: DataFrame) -> DataFrame:
    """Deterministic spanning forest of the (subject, object, h)
    multigraph → one-column frame of forest edge hashes.

    The exact ensmallen ``random_holdout`` semantics class (reference
    make_holdouts.py:59-75): the training split must contain a
    spanning tree of every component, not merely one incident edge per
    node. Construction is fully deterministic and distributed:

    1. components via the hash-min fixpoint machinery
       (``components_fixpoint_frame`` — the component id is the min
       reachable node id, so the component ROOT is the node equal to
       its own label);
    2. multi-source BFS distances by min-relaxation from all roots at
       once (localCheckpoint per round, changed==0 termination,
       raise past FOREST_BFS_UNROLL — the fixpoint discipline);
    3. every non-root picks its minimum-hash edge to a neighbor one
       level closer to the root. Parent edges strictly decrease the
       level, so the picked set is acyclic, has exactly
       |V| − |components| edges, and spans every component.

    Two nodes can never pick the same edge (their levels would have to
    differ by one in both directions), so no dedup pass is needed —
    but the output is DISTINCT h anyway for multigraph clarity."""
    und = (
        edges_h.select(
            F.col("subject").alias("a"), F.col("object").alias("b"), "h"
        )
        .unionAll(
            edges_h.select(
                F.col("object").alias("a"), F.col("subject").alias("b"), "h"
            )
        )
        .persist()
    )
    from ..plans.queries import components_fixpoint_frame

    comp = components_fixpoint_frame(
        und.select(F.col("a").alias("subject"), F.col("b").alias("object"))
    )
    dist = comp.select(
        "id",
        F.when(F.col("id") == F.col("component"), F.lit(0))
        .cast("int")
        .alias("d"),
    ).localCheckpoint(eager=True)
    # each superseded checkpoint is released as soon as its successor is
    # materialized, so only the returned forest stays pinned
    _release(comp)
    for _ in range(FOREST_BFS_UNROLL):
        nbr = (
            und.join(dist, und.b == dist.id)
            .filter(F.col("d").isNotNull())
            .select(und.a.alias("id"), (F.col("d") + 1).alias("nd"))
            .groupBy("id")
            .agg(F.min("nd").alias("nd"))
        )
        # explicit null-aware min (identical CASE runs in the oracle —
        # engines differ on whether least() ignores NULLs)
        new = (
            dist.join(nbr, "id", "left")
            .select(
                "id",
                F.when(F.col("d").isNull(), F.col("nd"))
                .when(F.col("nd").isNull(), F.col("d"))
                .when(F.col("nd") < F.col("d"), F.col("nd"))
                .otherwise(F.col("d"))
                .alias("d"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.join(
                dist.withColumnRenamed("d", "old"), "id"
            )
            .filter(~F.col("d").eqNullSafe(F.col("old")))
            .count()
        )
        _release(dist)
        dist = new
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"multi-source BFS did not converge within "
            f"{FOREST_BFS_UNROLL} rounds — raise FOREST_BFS_UNROLL "
            f"(and the oracle unroll with it)"
        )
    da = dist.select(F.col("id").alias("a"), F.col("d").alias("da"))
    db = dist.select(F.col("id").alias("b"), F.col("d").alias("db"))
    forest = (
        und.join(da, "a")
        .join(db, "b")
        .filter(F.col("da") == F.col("db") + 1)
        .groupBy("a")
        .agg(F.min("h").alias("h"))
        .select("h")
        .distinct()
    )
    out = forest.localCheckpoint(eager=True)
    _release(dist)
    und.unpersist()
    return out


def forest_edge_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact connected-holdout: spanning-forest edges forced into
    train, the rest hash-split 8/1/1 — the reference's
    ``random_holdout`` guarantee (training graph connected per
    component) by algorithm, not by the weaker one-edge-per-node
    variant. The forest is a session artifact, so invalidation frees
    its local checkpoint and repeated calls reuse it."""
    _, edges = get_merged(spark, sf_dir)
    h = F.md5(F.concat_ws("|", "subject", "predicate", "object"))
    e = edges.select("subject", "predicate", "object", h.alias("h"))
    forest = artifact(
        spark, sf_dir, "holdout_forest", lambda: spanning_forest_hashes(e)
    ).withColumn("forced", F.lit(True))
    b = _bucket10("subject", "predicate", "object")
    return e.join(forest, "h", "left").select(
        "subject",
        "predicate",
        "object",
        F.when(F.col("forced"), "train")
        .when(b <= 7, "train")
        .when(b == 8, "valid")
        .otherwise("test")
        .alias("split"),
    )


def holdout_connected_split_counts(spark: SparkSession, sf_dir: str
                                   ) -> DataFrame:
    """Split sizes for the exact spanning-forest holdout."""
    return (
        forest_edge_splits(spark, sf_dir)
        .groupBy("split")
        .agg(F.count("*").alias("n"))
    )


def holdout_negative_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling: hash-ranked candidate pairs from a
    hash-selected node subset, anti-joined against positives (J9), first
    N_NEG by pair hash."""
    nodes, edges = get_merged(spark, sf_dir)
    univ = (
        nodes.select("id")
        .orderBy(F.md5("id"), "id")
        .limit(CAND_NODES)
    )
    a = univ.select(F.col("id").alias("subject"))
    b = univ.select(F.col("id").alias("object"))
    cand = a.crossJoin(b).filter(F.col("subject") != F.col("object"))
    # Semi-filter the positives to edges with BOTH endpoints inside the
    # (broadcastable) candidate universe before the left-anti: without it
    # the anti-join's right side is the full edge set — a corpus-sized
    # shuffle at 100×. With it, the heavy side is two narrow broadcast
    # semi-joins and the anti-join operates on KBs.
    pos = (
        edges.select("subject", "object")
        .join(F.broadcast(a), "subject", "semi")
        .join(F.broadcast(b), "object", "semi")
        .distinct()
    )
    negatives = cand.join(pos, ["subject", "object"], "left_anti")
    return (
        negatives.orderBy(F.md5(F.concat_ws("|", "subject", "object")))
        .limit(N_NEG)
        .select("subject", "object")
    )


NEG_LABEL = "negative_edge"  # make_holdouts.py:119-120 defaults


def _local_ranks(df: DataFrame, n_parts: int) -> DataFrame:
    """Range-partition + local sort + per-physical-partition row_number.
    Split out so plan tests can assert the window is keyed by ``pid``
    (never a bare single-reducer ``ORDER BY id`` window) on the
    un-cached plan."""
    from pyspark.sql import Window

    part = df.repartitionByRange(n_parts, "id").withColumn(
        "pid", F.spark_partition_id()
    )
    w = Window.partitionBy("pid").orderBy("id")
    return part.select("id", "pid", F.row_number().over(w).alias("lr"))


def _global_rank(df: DataFrame, n_parts: int = 32) -> DataFrame:
    """id → dense 0-based rank in global sorted order, distributed.

    A bare ``row_number() OVER (ORDER BY id)`` funnels the whole table
    through one reducer. Instead: range-partition + local sort, local
    row_number keyed by the physical partition id (the window exchange
    spreads over n_parts keys), then add per-partition cumulative
    offsets (≤n_parts rows collected — the same bookkeeping
    zipWithIndex does). The (id → idx) mapping is global sorted rank,
    so it is deterministic regardless of where range boundaries fall.

    The RESULT is always persisted + counted and the local-rank
    intermediate unpersisted before returning: the per-partition
    offsets were collected from one physical execution of the ranking,
    so the result must be pinned while ``local`` is hot (a recompute
    could draw different range boundaries and mismatch the offsets),
    and nothing else may stay pinned per invocation. Callers keep the
    returned frame (as a session artifact, like _ranked_universe) and
    own its unpersist."""
    local = _local_ranks(df, n_parts).persist()
    counts = {
        r["pid"]: r["c"]
        for r in local.groupBy("pid").agg(F.count("*").alias("c")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    spark = df.sparkSession
    off_df = F.broadcast(
        local_frame(spark, list(offsets.items()), "pid int, off long")
    )
    out = (
        local.join(off_df, "pid")
        .select("id", (F.col("off") + F.col("lr") - 1).alias("idx"))
        .persist()
    )
    out.count()  # fill the result cache while `local` is still hot
    local.unpersist(False)
    return out


def _ranked_universe(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int]:
    """The ranked node universe as one session artifact — one persisted
    (id, idx) frame and its count per input, instead of a fresh persist
    per invocation that repeated fullscale-negative runs in a bench loop
    would accumulate as pinned storage. The universe is
    CONSTRUCTED HERE (nodes ∪ edge endpoints, the reference's
    make_holdouts universe) rather than passed in: a parameter would
    be silently ignored on cache hit, handing a caller with a
    different universe the wrong ranking."""
    def build():
        nodes, edges = get_merged(spark, sf_dir)
        universe = (
            nodes.select("id")
            .unionAll(edges.select(F.col("subject").alias("id")))
            .unionAll(edges.select(F.col("object").alias("id")))
            .distinct()
        )
        univ = _global_rank(universe)
        return univ, univ.count()

    return artifact(spark, sf_dir, "ranked_universe", build)


def _hash_mod(prefix: str, i: "Column", n: int) -> "Column":
    """Deterministic uniform index — the shared engine-parity hash
    (functions/hashing.py), so both engines draw the same stream."""
    from ..functions.hashing import hash_mod

    return hash_mod(prefix, i, n)


def holdout_negatives_fullscale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-semantics negative sampling at reference scale
    (make_holdouts.py:156-231): draw 2·|E| candidate pairs with both
    endpoints uniform over the full node universe (nodes.id ∪
    edges.subject ∪ edges.object, sorted unique), drop ALL duplicated
    pairs (keep=False), anti-join against distinct positives, drop
    reflexive pairs, keep the first |E| in draw order, and emit
    (subject, predicate, object, relation) with the reference's
    'negative_edge' label.

    The reference's ``random.randint`` stream becomes a hashed index
    (md5 of the draw number) so both engines and any parallelism level
    draw identically. Scale shape: universe ranking is distributed
    (_global_rank); the two index→id joins and the positives anti-join
    hash-partition on bounded keys; the final head-|E| is a TakeOrdered,
    not a global sort."""
    _, edges = get_merged(spark, sf_dir)
    univ, n_univ = _ranked_universe(spark, sf_dir)
    n_edges = edges.count()

    draws = spark.range(0, 2 * n_edges).select(
        F.col("id").alias("i"),
        _hash_mod("s", F.col("id"), n_univ).alias("s_idx"),
        _hash_mod("o", F.col("id"), n_univ).alias("o_idx"),
    )
    cand = (
        draws.join(univ.withColumnRenamed("idx", "s_idx")
                   .withColumnRenamed("id", "subject"), "s_idx")
        .join(univ.withColumnRenamed("idx", "o_idx")
              .withColumnRenamed("id", "object"), "o_idx")
        .select("i", "subject", "object")
    )
    # pandas drop_duplicates(keep=False): drop every pair that occurs
    # more than once among the draws.
    uniq = (
        cand.groupBy("subject", "object")
        .agg(F.count("*").alias("n"), F.min("i").alias("i"))
        .filter(F.col("n") == 1)
    )
    negs = (
        uniq.join(edges.select("subject", "object").distinct(),
                  ["subject", "object"], "left_anti")
        .filter(F.col("subject") != F.col("object"))
        .orderBy("i")
        .limit(n_edges)
    )
    return negs.select(
        "subject",
        F.lit(NEG_LABEL).alias("predicate"),
        "object",
        F.lit(NEG_LABEL).alias("relation"),
    )


FOREST_CC_UNROLL = 64  # == queries.CC_FIXPOINT_MAX_ROUNDS (Spark raises past)


def _forest_dist_sql() -> str:
    """Unrolled hash-min component rounds + multi-source-BFS
    min-relaxation chain (all MATERIALIZED — every c{k}/d{k} is
    referenced twice per round, so default CTE inlining would expand
    the chain exponentially) ending
    in the spanning-forest hash set.

    Components are UNROLLED hash-min rounds, NOT a recursive-CTE
    transitive closure: the closure materializes (id, reachable-root)
    pairs — |component|² rows, fine on the gazetteer-bounded cooc
    graph (kg_components_fixpoint) but ~2.5e9 rows on sf1's
    corpus-sized merged graph (measured 71 GB RSS before the run was
    killed). Hash-min is |V| rows per round × 64 rounds, equals the
    fixpoint whenever it converges within the unroll (idempotent), and
    the Spark side raises past the same cap, so the two never
    silently diverge.
    Shares the exact CASE null-handling with the Spark BFS loop so
    neither engine depends on its least()-vs-NULL convention."""
    parts = [
        "c0 AS MATERIALIZED "
        "(SELECT DISTINCT a AS id, a AS lbl FROM und)",
    ]
    for k in range(FOREST_CC_UNROLL):
        parts.append(
            f"c{k + 1} AS MATERIALIZED (SELECT id, min(lbl) AS lbl FROM ("
            f"SELECT id, lbl FROM c{k} UNION ALL "
            f"SELECT und.a AS id, c{k}.lbl FROM und "
            f"JOIN c{k} ON und.b = c{k}.id) GROUP BY id)"
        )
    parts.append(
        f"d0 AS MATERIALIZED (SELECT id, CASE WHEN id = lbl THEN 0 END "
        f"AS d FROM c{FOREST_CC_UNROLL})"
    )
    for k in range(FOREST_BFS_UNROLL):
        parts.append(
            f"d{k + 1} AS MATERIALIZED (SELECT dk.id, "
            f"CASE WHEN dk.d IS NULL THEN m.nd "
            f"WHEN m.nd IS NULL THEN dk.d "
            f"WHEN m.nd < dk.d THEN m.nd ELSE dk.d END AS d "
            f"FROM d{k} dk LEFT JOIN ("
            f"SELECT und.a AS id, min(dx.d + 1) AS nd "
            f"FROM und JOIN d{k} dx ON und.b = dx.id "
            f"WHERE dx.d IS NOT NULL GROUP BY und.a) m ON dk.id = m.id)"
        )
    last = f"d{FOREST_BFS_UNROLL}"
    parts.append(
        f"forest AS MATERIALIZED (SELECT DISTINCT h FROM ("
        f"SELECT u.a, min(u.h) AS h FROM und u "
        f"JOIN {last} x ON u.a = x.id JOIN {last} y ON u.b = y.id "
        f"WHERE x.d = y.d + 1 GROUP BY u.a))"
    )
    return ",\n".join(parts)


def holdout_oracles(merged_cte: str) -> dict[str, str]:
    return {
        "holdout_split_counts": f"""
WITH {merged_cte},
tagged AS (
  SELECT CASE
    WHEN ('0x' || substr(md5(subject || '|' || predicate || '|' || object), 1, 15))::UBIGINT % 10 <= 7 THEN 'train'
    WHEN ('0x' || substr(md5(subject || '|' || predicate || '|' || object), 1, 15))::UBIGINT % 10 = 8 THEN 'valid'
    ELSE 'test' END AS split
  FROM merged_edges
)
SELECT split, count(*) AS n FROM tagged GROUP BY split
""",
        "holdout_coverage_split_counts": f"""
WITH {merged_cte},
e AS (
  SELECT subject, predicate, object,
         md5(subject || '|' || predicate || '|' || object) AS h
  FROM merged_edges
),
inc AS (
  SELECT subject AS node, h FROM e
  UNION ALL SELECT object AS node, h FROM e
),
forced AS (
  SELECT DISTINCT h FROM (SELECT node, min(h) AS h FROM inc GROUP BY node)
),
tagged AS (
  SELECT CASE
    WHEN e.h IN (SELECT h FROM forced) THEN 'train'
    WHEN ('0x' || substr(e.h, 1, 15))::UBIGINT % 10 <= 7 THEN 'train'
    WHEN ('0x' || substr(e.h, 1, 15))::UBIGINT % 10 = 8 THEN 'valid'
    ELSE 'test' END AS split
  FROM e
)
SELECT split, count(*) AS n FROM tagged GROUP BY split
""",
        "holdout_connected_split_counts": f"""
WITH {merged_cte},
e AS (
  SELECT subject, predicate, object,
         md5(subject || '|' || predicate || '|' || object) AS h
  FROM merged_edges
),
und AS (
  SELECT subject AS a, object AS b, h FROM e
  UNION ALL
  SELECT object AS a, subject AS b, h FROM e
),
{_forest_dist_sql()},
tagged AS (
  SELECT CASE
    WHEN e.h IN (SELECT h FROM forest) THEN 'train'
    WHEN ('0x' || substr(e.h, 1, 15))::UBIGINT % 10 <= 7 THEN 'train'
    WHEN ('0x' || substr(e.h, 1, 15))::UBIGINT % 10 = 8 THEN 'valid'
    ELSE 'test' END AS split
  FROM e
)
SELECT split, count(*) AS n FROM tagged GROUP BY split
""",
        "holdout_negative_edges": f"""
WITH {merged_cte},
univ AS (
  SELECT id FROM merged_nodes ORDER BY md5(id), id LIMIT {CAND_NODES}
),
cand AS (
  SELECT a.id AS subject, b.id AS object
  FROM univ a CROSS JOIN univ b WHERE a.id <> b.id
),
negs AS (
  SELECT c.subject, c.object FROM cand c
  WHERE NOT EXISTS (
    SELECT 1 FROM merged_edges e
    WHERE e.subject = c.subject AND e.object = c.object
  )
)
SELECT subject, object FROM negs
ORDER BY md5(subject || '|' || object) LIMIT {N_NEG}
""",
        "holdout_negatives_fullscale": f"""
WITH {merged_cte},
universe AS (
  SELECT DISTINCT id FROM (
    SELECT id FROM merged_nodes
    UNION ALL SELECT subject FROM merged_edges
    UNION ALL SELECT object FROM merged_edges
  )
),
univ AS (
  SELECT id, row_number() OVER (ORDER BY id) - 1 AS idx FROM universe
),
draws AS (
  SELECT i,
    {_hash_mod_sql('s', 'i', '(SELECT count(*) FROM univ)')} AS s_idx,
    {_hash_mod_sql('o', 'i', '(SELECT count(*) FROM univ)')} AS o_idx
  FROM (SELECT unnest(range(0, 2 * (SELECT count(*) FROM merged_edges))) AS i)
),
cand AS (
  SELECT d.i, s.id AS subject, o.id AS object
  FROM draws d
  JOIN univ s ON d.s_idx = s.idx
  JOIN univ o ON d.o_idx = o.idx
),
uniq AS (
  SELECT subject, object, min(i) AS i FROM cand
  GROUP BY subject, object HAVING count(*) = 1
),
negs AS (
  SELECT u.subject, u.object, u.i FROM uniq u
  WHERE NOT EXISTS (
    SELECT 1 FROM merged_edges e
    WHERE e.subject = u.subject AND e.object = u.object
  ) AND u.subject <> u.object
  ORDER BY i LIMIT (SELECT count(*) FROM merged_edges)
)
SELECT subject, '{NEG_LABEL}' AS predicate, object,
       '{NEG_LABEL}' AS relation
FROM negs
""",
    }


HOLDOUT_QUERIES = {
    "holdout_split_counts": holdout_split_counts,
    "holdout_coverage_split_counts": holdout_coverage_split_counts,
    "holdout_connected_split_counts": holdout_connected_split_counts,
    "holdout_negative_edges": holdout_negative_edges,
    "holdout_negatives_fullscale": holdout_negatives_fullscale,
}


def _default_oracles() -> dict[str, str]:
    from ..dictionaries import merged_cte_sql

    return holdout_oracles(merged_cte_sql())


HOLDOUT_ORACLES = _default_oracles()

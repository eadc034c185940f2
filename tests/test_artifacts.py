"""Session artifacts (sources/corpus.artifact): a part-file change is seen
without an invalidate call, invalidation frees what the registry pinned
(local-checkpoint blocks included), and concurrent callers build an
artifact once."""

from __future__ import annotations

import threading

import duckdb
import pyarrow.parquet as pq
from pyspark.storagelevel import StorageLevel

from kg_covid_19_spark.plans import pipeline
from kg_covid_19_spark.plans.queries import KG_ORACLES, kg_mention_counts
from kg_covid_19_spark.sources.corpus import invalidate_session_caches

from conftest import SF_DIR, cached_reads


def _split_corpus(tmp_path, parts: int):
    """The test documents as ``parts`` part files of a directory table;
    returns a function that lands the next part."""
    table = pq.read_table(f"{SF_DIR}/documents.parquet")
    root = tmp_path / "documents.parquet"
    root.mkdir()
    step = -(-table.num_rows // parts)
    landed = []

    def land():
        i = len(landed)
        path = root / f"part-{i:05d}.parquet"
        pq.write_table(table.slice(i * step, step), path)
        landed.append(str(path))
        return landed

    return land


def _oracle(files: list[str], name: str) -> list[tuple]:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet({files!r})")
    return sorted(con.execute(KG_ORACLES[name]).fetchall())


def test_part_file_change_is_seen_without_invalidate(spark, tmp_path):
    land = _split_corpus(tmp_path, 2)
    land()
    sf = str(tmp_path)
    pipeline.get_kg(spark, sf)
    files = land()  # no invalidate_session_caches call
    got = sorted(tuple(r) for r in kg_mention_counts(spark, sf).collect())
    assert got == _oracle(files, "kg_mention_counts")
    assert sum(n for _, n in got) > sum(
        n for _, n in _oracle(files[:1], "kg_mention_counts")
    )


def _cached_rdds(spark) -> set[int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id() for i in infos if i.numCachedPartitions() > 0}


def test_invalidate_frees_mention_array_checkpoint(spark, tmp_path):
    land = _split_corpus(tmp_path, 1)
    land()
    invalidate_session_caches(spark)
    before = _cached_rdds(spark)
    pipeline.get_mention_arrays(spark, str(tmp_path))
    assert _cached_rdds(spark) - before  # the mention set's caches hold blocks
    invalidate_session_caches(spark)
    assert _cached_rdds(spark) <= before


def test_concurrent_cold_get_kg_builds_once(spark, tmp_path, monkeypatch):
    _split_corpus(tmp_path, 1)()
    calls = []
    build_kg = pipeline.build_kg

    def counting(*args, **kwargs):
        calls.append(threading.get_ident())
        return build_kg(*args, **kwargs)

    monkeypatch.setattr(pipeline, "build_kg", counting)
    start = threading.Barrier(2)
    got = []

    def client():
        start.wait()
        got.append(pipeline.get_kg(spark, str(tmp_path)))

    threads = [threading.Thread(target=client) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(calls) == 1
    assert len(got) == 2 and got[0] is got[1]


def test_invalidate_releases_bigram_stream(spark):
    """txt_bigram_lm pins its bigram stream as an artifact, so
    invalidation leaves the cache as it found it."""
    from kg_covid_19_spark.functions.textstats import txt_bigram_lm

    invalidate_session_caches(spark)
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keySet())
    assert cache.isEmpty()
    txt_bigram_lm(spark, SF_DIR).collect()
    assert not cache.isEmpty()
    invalidate_session_caches(spark)
    assert cache.isEmpty()
    assert set(persistent().keySet()) <= before


def _is_cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def test_components_fixpoint_keeps_und_cooc_cached(spark, tmp_path):
    """kg_components_fixpoint's loop reads the shared und_cooc artifact;
    the two-hop queries, PageRank and the degree table read it too, so
    the call must leave it cached."""
    from kg_covid_19_spark.plans import queries

    _split_corpus(tmp_path, 1)()
    sf = str(tmp_path)
    und = queries._und_cooc(spark, sf)
    assert _is_cached(und)
    queries.kg_components_fixpoint(spark, sf).collect()
    assert queries._und_cooc(spark, sf) is und
    assert _is_cached(und)


def test_invalidate_after_serve_mix_leaves_nothing_persisted(spark, tmp_path):
    """The graph, the merged graph and one pass of every kept graph
    query (the KG, merged, holdout and triples registries; the serve
    mix is a subset of them) pin only registry values: invalidation
    leaves no persisted RDD of theirs behind (local checkpoints
    included)."""
    from kg_covid_19_spark.operators.holdouts import HOLDOUT_QUERIES
    from kg_covid_19_spark.operators.triples import TRIPLES_QUERIES
    from kg_covid_19_spark.plans.merged import MERGED_QUERIES, get_merged
    from kg_covid_19_spark.plans.queries import KG_QUERIES

    _split_corpus(tmp_path, 1)()
    sf = str(tmp_path)
    invalidate_session_caches(spark)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keySet())
    pipeline.get_kg(spark, sf)
    get_merged(spark, sf)
    for registry in (KG_QUERIES, MERGED_QUERIES, HOLDOUT_QUERIES,
                     TRIPLES_QUERIES):
        for query in registry.values():
            query(spark, sf).collect()
    assert set(persistent().keySet()) - before
    invalidate_session_caches(spark)
    assert set(persistent().keySet()) - before == set()


def test_graph_pins_only_the_mention_set(spark, tmp_path):
    """The KG frames are plans over the mention set and the merged graph
    adds driver constants, so building both persists exactly the mention
    rows and the pair counts; neither KG frame is persisted itself."""
    from kg_covid_19_spark.plans.merged import get_merged

    _split_corpus(tmp_path, 1)()
    sf = str(tmp_path)
    invalidate_session_caches(spark)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keySet())
    nodes, edges = pipeline.get_kg(spark, sf)
    get_merged(spark, sf)
    rows, pairs = pipeline.get_mention_set(spark, sf)
    assert set(persistent().keySet()) - before == (
        cached_reads(rows) | cached_reads(pairs)
    )
    assert nodes.storageLevel == StorageLevel.NONE
    assert edges.storageLevel == StorageLevel.NONE
    invalidate_session_caches(spark)


def test_holdout_forest_is_one_registry_value(spark, tmp_path):
    """forest_edge_splits reads the spanning forest from the registry:
    a second call pins nothing new, and invalidation frees it."""
    from kg_covid_19_spark.operators.holdouts import forest_edge_splits

    _split_corpus(tmp_path, 1)()
    sf = str(tmp_path)
    invalidate_session_caches(spark)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keySet())
    forest_edge_splits(spark, sf).collect()
    pinned = set(persistent().keySet())
    assert pinned - before
    forest_edge_splits(spark, sf).collect()
    assert set(persistent().keySet()) == pinned
    invalidate_session_caches(spark)
    assert set(persistent().keySet()) - before == set()

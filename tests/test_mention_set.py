"""The cached mention set (plans/pipeline.get_mention_set): scalar
(doc_id, pos, curie) rows and (subject, object, n_docs) pair counts
persisted as compressed columnar caches, and the graph, mention and
array frames projected from them."""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import ArrayType

from kg_covid_19_spark.dictionaries import (
    COOC_PREDICATE,
    COOC_RELATION,
    DOC_PREFIX,
    MENTION_PREDICATE,
    MENTION_RELATION,
    PROVIDED_BY,
    PUB_CATEGORY,
    canonical_gazetteer,
)
from kg_covid_19_spark.plans.pipeline import (
    build_kg,
    get_mention_arrays,
    get_mention_set,
    get_mentions,
    pages_with_mentions,
)
from kg_covid_19_spark.sources.corpus import read_table

from conftest import SF_DIR, SF_DIR_MID


def _cached_relation(df):
    return df._jdf.queryExecution().withCachedData()


def _cached_bytes(spark, df) -> int:
    rdd_id = _cached_relation(df).cacheBuilder().cachedColumnBuffers().id()
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos if i.id() == rdd_id)


def test_mention_set_is_scalar_columnar_cache(spark):
    for df in get_mention_set(spark, SF_DIR):
        assert _cached_relation(df).nodeName() == "InMemoryRelation"
        assert not any(isinstance(f.dataType, ArrayType) for f in df.schema)
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        names = {leaves.apply(i).nodeName() for i in range(leaves.size())}
        assert "LogicalRDD" not in names, names


def test_mention_set_caches_less_than_array_copy(spark):
    """The exploded rows and the pair counts together take less than
    half the cache of the same mention sets kept as an array column."""
    rows, pairs = get_mention_set(spark, SF_DIR_MID)
    arrays = get_mention_arrays(spark, SF_DIR_MID).persist()
    try:
        arrays.count()
        array_bytes = _cached_bytes(spark, arrays)
        set_bytes = _cached_bytes(spark, rows) + _cached_bytes(spark, pairs)
    finally:
        arrays.unpersist()
    assert 0 < set_bytes < array_bytes / 2, (set_bytes, array_bytes)


def test_mention_rows_have_no_duplicate_key(spark):
    m = get_mentions(spark, SF_DIR)
    assert m.count() == m.select("doc_id", "curie").distinct().count() > 0
    rows, _ = get_mention_set(spark, SF_DIR)
    n_docs = read_table(spark, SF_DIR, "documents").count()
    assert rows.select("doc_id").distinct().count() == n_docs


def _array_graph(arrays: dict[int, list[str]]):
    """The graph the array layout defines, in Python: a publication node
    per document, a mention edge per (document, curie), a term node per
    mentioned curie, a co-occurrence edge per pair within a document."""
    names = {c: (n, cat) for c, n, cat in canonical_gazetteer()}
    nodes = {(f"{DOC_PREFIX}{d}", f"Document {d}", PUB_CATEGORY, PROVIDED_BY)
             for d in arrays}
    curies = {c for cs in arrays.values() for c in cs}
    nodes |= {(c, *names[c], PROVIDED_BY) for c in curies}
    edges = {
        (f"{DOC_PREFIX}{d}", MENTION_PREDICATE, c, MENTION_RELATION, PROVIDED_BY)
        for d, cs in arrays.items() for c in cs
    }
    edges |= {
        (s, COOC_PREDICATE, o, COOC_RELATION, PROVIDED_BY)
        for cs in arrays.values() for s, o in itertools.combinations(sorted(cs), 2)
    }
    return sorted(nodes), sorted(edges)


def test_build_kg_matches_array_graph_on_planted_docs(spark, tmp_path):
    texts = {
        1: None,                            # null text
        2: "nothing here matches",          # no mention
        3: "a spark plug",                  # one mention
        4: "hash merge hash join scan join",  # duplicate terms and synonyms
        5: "query window stream table",
    }
    (tmp_path / "documents.parquet").mkdir()
    pq.write_table(
        pa.table({
            "doc_id": pa.array(list(texts), pa.int64()),
            "text": pa.array(list(texts.values()), pa.string()),
            "lang": ["en"] * len(texts),
        }),
        tmp_path / "documents.parquet" / "part-00000.parquet",
    )
    sf = str(tmp_path)
    arrays = {
        r["doc_id"]: r["curies"]
        for r in pages_with_mentions(spark, sf).select("doc_id", "curies").collect()
    }
    assert arrays[1] == arrays[2] == [] and len(arrays[3]) == 1
    assert len(arrays[4]) == 3  # hash/merge share one canonical curie

    nodes, edges = build_kg(spark, sf)
    want_nodes, want_edges = _array_graph(arrays)
    assert sorted(tuple(r) for r in nodes.collect()) == want_nodes
    assert sorted(tuple(r) for r in edges.collect()) == want_edges

    regrouped = {
        r["doc_id"]: r["curies"] for r in get_mention_arrays(spark, sf).collect()
    }
    assert regrouped == arrays

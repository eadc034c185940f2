from __future__ import annotations

import duckdb
import pytest

from kg_covid_19_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kg-spark-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def assert_df_matches_oracle(df, duck, sql):
    """Driver-style comparison: schema names + order-insensitive rows."""
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(tuple(r) for r in duck.execute(sql).fetchall())
    assert [f.name for f in df.schema.fields] == [
        d[0] for d in duck.execute(sql).description
    ]
    assert got == want, (
        f"mismatch: spark={len(got)} rows, duckdb={len(want)} rows; "
        f"first diff: {next((a, b) for a, b in zip(got, want) if a != b) if got and want else (got[:2], want[:2])}"
    )


def cached_reads(df) -> set[int]:
    """Ids of the cached RDDs that ``df``'s optimized plan reads."""
    ids = set()

    def walk(node):
        if node.nodeName() == "InMemoryRelation":
            ids.add(node.cacheBuilder().cachedColumnBuffers().id())
            return
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return ids

"""Table helpers of sources/corpus.py. Scan-layout estimate for the
documents table: byte-size settings parse, only the files Spark reads
are counted, and a rewrite is seen with or without an invalidation.
``local_frame``: the same schema and rows as ``createDataFrame(list)``,
read from a LocalRelation."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kg_covid_19_spark.plans.rq import result_bindings_to_df
from kg_covid_19_spark.sources.corpus import (
    _scan_layout,
    invalidate_session_caches,
    local_frame,
    read_table,
)
from kg_covid_19_spark.sources.provider import TableProvider

from conftest import SF_DIR


def _write_part(sf_dir, n: int) -> int:
    path = sf_dir / "documents.parquet" / f"part-{n:05d}.parquet"
    path.parent.mkdir(parents=True, exist_ok=True)
    table = pa.table({
        "doc_id": pa.array(range(n * 100, n * 100 + 100), pa.int64()),
        "text": [f"doc {i} text" for i in range(100)],
    })
    pq.write_table(table, path)
    return path.stat().st_size


def test_scan_layout_reads_byte_size_conf(spark, tmp_path):
    size = _write_part(tmp_path, 0) + _write_part(tmp_path, 1)
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "64m")
    try:
        splits, nbytes = _scan_layout(spark, str(tmp_path))
    finally:
        spark.conf.set(key, saved)
    assert nbytes == size
    # each small file is charged the 4 MB open cost, so neither shares
    # a split: Spark plans two
    assert splits == 2


def test_scan_layout_counts_only_files_spark_reads(spark, tmp_path):
    """Partition directories are recursed and hidden files (a part file
    still being landed) are skipped, as Spark's file index does."""
    docs = spark.createDataFrame(
        [(i, f"text {i}", ("en", "de", "fr")[i % 3]) for i in range(30)],
        "doc_id long, text string, lang string",
    )
    TableProvider(spark, str(tmp_path)).write(
        docs, "documents", partition_by=("lang",)
    )
    root = tmp_path / "documents.parquet"
    pq.write_table(pa.table({"doc_id": [0]}), root / ".part-landing.parquet")
    read = spark.read.parquet(str(root)).inputFiles()
    want = sum(os.path.getsize(f.removeprefix("file:")) for f in read)
    assert len(read) >= 3 and want > 0
    assert _scan_layout(spark, str(tmp_path))[1] == want


def test_invalidate_refreshes_scan_layout(spark, tmp_path):
    """A new part file is seen after an invalidation, and without one."""
    for invalidate in (True, False):
        sf = tmp_path / str(invalidate)
        first = _write_part(sf, 0)
        assert _scan_layout(spark, str(sf))[1] == first
        second = _write_part(sf, 1)
        if invalidate:
            invalidate_session_caches(spark)
        assert _scan_layout(spark, str(sf))[1] == first + second


def test_scan_layout_of_catalog_table_has_bytes(spark, tmp_path):
    """With no files under sf_dir (a catalog table), the layout comes
    from the planner's size estimate instead of reporting 0 bytes."""
    from kg_covid_19_spark.sources.provider import CATALOG_CONF

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(30)], "doc_id long, text string"
    )
    spark.sql("DROP TABLE IF EXISTS spark_catalog.default.documents")
    prov = TableProvider(spark, str(tmp_path), catalog="spark_catalog")
    prov.write(docs, "documents")
    spark.conf.set(CATALOG_CONF, "spark_catalog")
    try:
        read = prov.read("documents").inputFiles()
        want = sum(os.path.getsize(f.removeprefix("file:")) for f in read)
        assert _scan_layout(spark, str(tmp_path)) == (1, want)
    finally:
        spark.conf.unset(CATALOG_CONF)
        spark.sql("DROP TABLE IF EXISTS spark_catalog.default.documents")


def test_scan_layout_predicts_planned_splits(spark, tmp_path):
    """On multi-file corpora the estimate is the split count Spark plans
    for the scan: the bytes-per-core cap on the split size, files cut
    into split-sized pieces and the pieces packed largest first."""
    table = pq.read_table(f"{SF_DIR}/documents.parquet")
    layouts = {"one": (500,), "uneven": (400, 60, 30, 10), "even": (125,) * 4}
    confs = ((None, None), ("64k", "16k"), ("256k", "4k"))
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    saved = [spark.conf.get(k) for k in keys]
    try:
        for name, counts in layouts.items():
            root = tmp_path / name / "documents.parquet"
            root.mkdir(parents=True)
            start = 0
            for i, n in enumerate(counts):
                pq.write_table(table.slice(start, n), root / f"part-{i:05d}.parquet")
                start += n
            for conf in confs:
                for k, v, old in zip(keys, conf, saved):
                    spark.conf.set(k, v or old)
                want = read_table(
                    spark, str(tmp_path / name), "documents"
                ).rdd.getNumPartitions()
                got = _scan_layout(spark, str(tmp_path / name))[0]
                assert got == want, (name, conf, got, want)
    finally:
        for k, v in zip(keys, saved):
            spark.conf.set(k, v)


def _leaf_names(df) -> set[str]:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {leaves.apply(i).nodeName() for i in range(leaves.size())}


@pytest.mark.parametrize("rows, ddl", [
    ([("a", 1, 2**40, ["x", None]), (None, None, None, None),
      ("c", -3, 4, [])],
     "s string, i int, l long, a array<string>"),
    ([], "s string, i int, l long, a array<string>"),
    ([], "`?s` string, `?o` string"),  # rq bindings, no results
    ([], "pid int, off long"),  # holdout offsets, no partitions
])
def test_local_frame_matches_create_dataframe(spark, rows, ddl):
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert _leaf_names(got) == {"LocalRelation"}


def test_result_bindings_without_rows_keep_columns(spark):
    df = result_bindings_to_df(
        spark, {"head": {"vars": ["s", "o"]}, "results": {"bindings": []}}
    )
    assert df.columns == ["s", "o"]
    assert df.collect() == []

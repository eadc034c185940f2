"""Scan-layout estimate for the documents table (sources/corpus.py):
byte-size settings parse, and a rewrite plus invalidation is seen."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from kg_covid_19_spark.sources.corpus import (
    _scan_layout,
    invalidate_session_caches,
)


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
    assert splits == 1


def test_invalidate_refreshes_scan_layout(spark, tmp_path):
    first = _write_part(tmp_path, 0)
    assert _scan_layout(spark, str(tmp_path))[1] == first
    second = _write_part(tmp_path, 1)
    invalidate_session_caches(spark)
    assert _scan_layout(spark, str(tmp_path))[1] == first + second

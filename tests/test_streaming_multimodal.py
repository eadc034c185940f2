"""Streaming/batch parity of the windowed event counts."""

from __future__ import annotations

from kg_covid_19_spark.streaming.events import (
    evt_windowed_counts,
    evt_windowed_counts_stream,
)

from conftest import SF_DIR


def test_stream_equals_batch(spark):
    batch = sorted(tuple(r) for r in evt_windowed_counts(spark, SF_DIR).collect())
    stream = sorted(
        tuple(r)
        for r in evt_windowed_counts_stream(spark, SF_DIR, "t_evt").collect()
    )
    assert batch == stream and len(batch) > 0

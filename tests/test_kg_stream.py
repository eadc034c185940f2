"""Streaming KG ingestion: batch/stream parity and exactly-once resume."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from kg_covid_19_spark.streaming.kg_stream import (
    batch_mention_edges,
    stream_mention_edges,
)

from conftest import SF_DIR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_matches_batch_and_resumes_exactly_once(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    staged = str(tmp_path / "staged")
    incoming = str(tmp_path / "incoming")
    os.makedirs(incoming)
    (
        docs.withColumn("part", F.col("doc_id") % 3)
        .repartition(3, "part")
        .drop("part")
        .write.parquet(staged)
    )
    parts = sorted(
        f for f in os.listdir(staged) if f.endswith(".parquet")
    )
    assert len(parts) == 3
    # stage 2 of 3 files, drain the stream
    for f in parts[:2]:
        shutil.copy(f"{staged}/{f}", f"{incoming}/{f}")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "edges")
    first = stream_mention_edges(spark, incoming, ckpt, out)
    n_first = first.count()
    assert n_first > 0

    # new file lands; same checkpoint → only the delta is processed
    shutil.copy(f"{staged}/{parts[2]}", f"{incoming}/{parts[2]}")
    resumed = stream_mention_edges(spark, incoming, ckpt, out)

    want = batch_mention_edges(spark, incoming)
    assert _rows(resumed) == _rows(want)  # parity incl. no duplicates
    assert resumed.count() > n_first  # the delta actually arrived
    # exactly-once: per (subject, object) at most one row
    assert (
        resumed.groupBy("subject", "object").count()
        .filter(F.col("count") > 1).count() == 0
    )


def test_stream_dedup_is_content_exactly_once(spark, tmp_path):
    """Distinct-hash set matches batch; a restart with the same
    checkpoint suppresses re-arrivals of already-seen content."""
    from pyspark.sql import functions as F

    from kg_covid_19_spark.streaming.kg_stream import stream_dedup_hashes

    incoming = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt_dedup")
    out = str(tmp_path / "out_dedup")

    base = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")],
        "doc_id long, text string",
    )
    base.write.parquet(incoming)
    first = stream_dedup_hashes(spark, incoming, ckpt, out)
    got = {r["text_hash"] for r in first.collect()}
    want = {
        r["h"]
        for r in base.select(F.md5("text").alias("h")).distinct().collect()
    }
    assert got == want  # 2 distinct hashes from 3 docs

    # new file: one seen content, one new → exactly one new hash
    spark.createDataFrame(
        [(4, "alpha beta"), (5, "epsilon zeta")],
        "doc_id long, text string",
    ).write.mode("append").parquet(incoming)
    resumed = stream_dedup_hashes(spark, incoming, ckpt, out)
    got2 = {r["text_hash"] for r in resumed.collect()}
    assert len(got2) == 3
    assert resumed.count() == 3  # no duplicate rows ever emitted


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join (watermarked both sides) converges
    to the batch form of the identical predicate."""
    import datetime as dt

    from kg_covid_19_spark.streaming.events import (
        batch_view_click_join,
        stream_view_click_join,
    )

    t = lambda m, s=0: dt.datetime(2024, 1, 1, 1, m, s)
    rows = [
        (1, t(0), 7, "view", 0.0, ""),
        (2, t(5), 7, "click", 0.0, ""),    # joins view 1 (5 min gap)
        (3, t(20), 7, "click", 0.0, ""),   # view 1 too old (20 > 10) → no row
        (4, t(30), 7, "view", 0.0, ""),
        (5, t(30), 7, "click", 0.0, ""),   # same instant → joins view 4
        (6, t(2), 9, "click", 0.0, ""),    # other user, no view → no row
        (7, t(3), 9, "view", 0.0, ""),     # view AFTER click → no row
    ]
    events_dir = str(tmp_path / "events")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(events_dir)

    batch = {
        (r["click_id"], r["view_id"])
        for r in batch_view_click_join(spark, events_dir).collect()
    }
    assert batch == {(2, 1), (5, 4)}

    streamed = stream_view_click_join(
        spark, events_dir, str(tmp_path / "ckpt"), str(tmp_path / "out")
    )
    got = {(r["click_id"], r["view_id"]) for r in streamed.collect()}
    assert got == batch


def test_stream_dedup_watermarked_bounds_state_and_drops_within_window(
    spark, tmp_path
):
    """dropDuplicatesWithinWatermark contract, observed end-to-end:
    a duplicate arriving WITHIN the watermark window is dropped; once
    the watermark passes first_seen + delay the key's state is evicted,
    so (a) a later re-arrival re-emits and (b) the state store never
    holds the full seen-set."""
    import datetime as dt
    import os as _os

    from kg_covid_19_spark.streaming.kg_stream import (
        stream_dedup_hashes_watermarked,
    )

    incoming = str(tmp_path / "incoming_wm")
    _os.makedirs(incoming)
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)
    batches = [
        [(1, "alpha", t(10, 0)), (2, "beta", t(10, 1))],
        [(3, "alpha", t(10, 5))],   # within 30-min window → dropped
        [(4, "gamma", t(12, 0))],   # advances the watermark to 11:30
        [(5, "delta", t(12, 1))],   # batch where eviction lands (alpha/beta)
        [(6, "alpha", t(12, 5))],   # state evicted → re-emitted
    ]
    for i, rows in enumerate(batches):
        staged = str(tmp_path / f"stage_wm_{i}")
        spark.createDataFrame(
            rows, "doc_id long, text string, event_ts timestamp"
        ).coalesce(1).write.parquet(staged)
        part = next(
            n for n in _os.listdir(staged) if n.endswith(".parquet")
        )
        dst = f"{incoming}/b{i}.parquet"
        shutil.copy(f"{staged}/{part}", dst)
        # file source processes oldest-mtime first; pin the order
        _os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    out, state_rows = stream_dedup_hashes_watermarked(
        spark,
        incoming,
        str(tmp_path / "ckpt_wm"),
        str(tmp_path / "out_wm"),
    )
    from collections import Counter

    md5 = lambda s: __import__("hashlib").md5(s.encode()).hexdigest()
    got = Counter(r["text_hash"] for r in out.collect())
    assert got[md5("beta")] == 1
    assert got[md5("gamma")] == 1
    assert got[md5("delta")] == 1
    assert got[md5("alpha")] == 2  # dropped within window, re-emitted after
    # boundedness: 4 distinct contents were seen but the state store
    # shrank back to 2 keys when the watermark passed alpha+beta, and
    # never ends holding the full seen-set (unbounded dropDuplicates
    # would sit at 4)
    assert state_rows, "no state operator metrics captured"
    assert min(state_rows[2:]) <= 2, state_rows
    assert state_rows[-1] < 4, state_rows


def test_stream_cooc_counts_match_batch(spark, tmp_path):
    """The complete-mode streaming aggregate must equal the batch pair
    counts over the same files (shared pair_counts kernel), and the
    n_docs support values must be real multi-document counts."""
    from kg_covid_19_spark.streaming.kg_stream import (
        _pair_count_plan,
        stream_cooc_counts,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    incoming = str(tmp_path / "cooc_in")
    docs.repartition(3).write.parquet(incoming)

    streamed = sorted(
        tuple(r)
        for r in stream_cooc_counts(
            spark, incoming, str(tmp_path / "cooc_ckpt")
        ).collect()
    )
    batch = sorted(
        tuple(r)
        for r in _pair_count_plan(spark.read.parquet(incoming)).collect()
    )
    assert streamed == batch
    assert streamed, "no co-occurring pairs at test scale — vacuous"
    assert max(r[2] for r in streamed) > 1  # genuine multi-doc support


def test_stream_dedup_watermarked_state_bounded_over_long_stream(
    spark, tmp_path
):
    """Depth probe for the bounded-state claim: ~100 micro-batches
    (one file each), every batch advancing event time a full watermark
    horizon, 10,000 distinct keys total. The state store must hold a
    few batches' worth of in-window keys throughout — never the
    accumulated seen-set an unbounded dropDuplicates would keep — and
    every unique key must still be emitted exactly once."""
    import datetime as dt
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kg_covid_19_spark.streaming.kg_stream import (
        stream_dedup_hashes_watermarked,
    )

    n_files, keys_per_file = 100, 100
    incoming = str(tmp_path / "incoming_long")
    _os.makedirs(incoming)
    base = dt.datetime(2024, 1, 1, 0, 0)
    for i in range(n_files):
        ts = base + dt.timedelta(minutes=30 * i)  # one horizon per file
        tbl = pa.table(
            {
                "doc_id": pa.array(
                    [i * keys_per_file + j for j in range(keys_per_file)],
                    pa.int64(),
                ),
                "text": pa.array(
                    [f"doc {i:04d} {j:04d}" for j in range(keys_per_file)]
                ),
                "event_ts": pa.array(
                    [ts] * keys_per_file, pa.timestamp("us", tz="UTC")
                ),
            }
        )
        dst = f"{incoming}/b{i:05d}.parquet"
        pq.write_table(tbl, dst)
        _os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    out, state_rows = stream_dedup_hashes_watermarked(
        spark,
        incoming,
        str(tmp_path / "ckpt_long"),
        str(tmp_path / "out_long"),
        query_name="doc_dedup_stream_wm_long",
    )
    assert out.count() == n_files * keys_per_file  # all unique → all emitted
    assert state_rows, "no state operator metrics captured"
    # steady state: in-window keys only (~2-3 batches + eviction lag),
    # nowhere near the 10k seen-set
    assert max(state_rows[5:]) <= 5 * keys_per_file, (
        max(state_rows[5:]), state_rows[-5:]
    )

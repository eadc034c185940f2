"""Event-stream operators (streaming/events.py): rate spikes, temporal
splits and bot-user detection on planted patterns."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR


def test_rate_spikes_planted_burst(spark):
    """A 5x burst after three quiet hours must flag; the first
    SPIKE_TRAIL buckets (incomplete baseline) must be excluded; quiet
    buckets with a full baseline must report spike=False."""
    import datetime as dt

    from kg_covid_19_spark.streaming.events import (
        SPIKE_TRAIL,
        rate_spikes_frame,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    counts = [2, 2, 2, 2, 10]  # hours 0-3 quiet, hour 4 bursts
    eid = 0
    for h, n in enumerate(counts):
        for i in range(n):
            rows.append(
                (eid, base + dt.timedelta(hours=h, minutes=i), 1, "x", 0.0)
            )
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )
    got = {
        r["bucket_start"].hour: (r["n"], r["trailing"], r["spike"])
        for r in rate_spikes_frame(ev).collect()
    }
    assert set(got) == {SPIKE_TRAIL, 4}  # hours 0-2 lack full history
    assert got[3] == (2, 6, False)
    assert got[4] == (10, 6, True)   # 10*3 > 2*6


def test_temporal_split_warm_cold_decomposition(spark):
    """Planted frame pins the warm/cold branch the synthetic corpus
    can't reach (its users are active on both sides of the boundary):
    user 1 is warm (train + test), user 2 cold (test only), user 3
    train-only; every report column is exactly determined."""
    from kg_covid_19_spark.streaming.events import temporal_split_frame

    ev = spark.createDataFrame(
        [
            (1, "2024-01-10 00:00:00"),
            (1, "2024-01-25 00:00:00"),
            (1, "2024-01-26 00:00:00"),
            (2, "2024-01-28 00:00:00"),
            (3, "2024-01-02 00:00:00"),
        ],
        "user_id long, ts_s string",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    row = temporal_split_frame(ev, "2024-01-24 00:00:00").collect()[0]
    assert row["n_train_events"] == 2
    assert row["n_test_events"] == 3
    assert row["n_train_users"] == 2
    assert row["n_test_users"] == 2
    assert row["n_warm_test_users"] == 1
    assert row["n_cold_test_users"] == 1
    assert row["n_warm_test_events"] == 2


def test_temporal_split_registry_no_future_leak(spark):
    """On the real corpus the registry query must balance: train+test
    events = all events, warm+cold = test users, and the boundary
    actually splits (both sides non-empty — a vacuous cut would make
    every temporal-eval claim empty)."""
    from kg_covid_19_spark.streaming.events import evt_temporal_split

    row = evt_temporal_split(spark, SF_DIR).collect()[0]
    total = (
        spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    )
    assert row["n_train_events"] + row["n_test_events"] == total
    assert row["n_train_events"] > 0 and row["n_test_events"] > 0
    assert (
        row["n_warm_test_users"] + row["n_cold_test_users"]
        == row["n_test_users"]
    )


def test_bot_users_planted_flood(spark):
    """A planted flood user (100 events vs three 10-event humans) must
    be the only flag: 100*4 = 400 > 3*130 = 390; every human clears
    it (10*4 = 40 < 390). Pins the flagged branch the near-uniform
    synthetic fleet never reaches."""
    from kg_covid_19_spark.streaming.events import bot_users_frame

    rows = []
    for u, n in ((1, 10), (2, 10), (3, 10), (99, 100)):
        rows += [(u, f"2024-01-{(i % 28) + 1:02d} 00:00:00")
                 for i in range(n)]
    ev = spark.createDataFrame(
        rows, "user_id long, ts_s string"
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    got = {r["user_id"]: r for r in bot_users_frame(ev).collect()}
    assert got[99]["flagged"] is True
    assert all(not got[u]["flagged"] for u in (1, 2, 3))
    assert got[99]["n_events"] == 100 and got[99]["n_days"] == 28

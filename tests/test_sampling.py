"""Text-operator goldens: PII redaction (functions/textstats.py), the
events as-of join (streaming/events.py) and duplicate n-gram counts
(operators/dedup.py)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_redact_pii_goldens(spark):
    """Pattern goldens on synthesized PII strings (the corpus itself is
    digit-free, so the oracle query injects PII; this pins the raw
    function behavior)."""
    from kg_covid_19_spark.functions.textstats import redact_pii

    rows = spark.createDataFrame(
        [
            ("mail me at jo.doe+x@sub.example.co.uk please",),
            ("server 192.168.001.1 down",),
            ("call +1 555-123 4567 now",),
            ("no pii here",),
        ],
        "s string",
    ).select(redact_pii(F.col("s")).alias("r")).collect()
    assert rows[0]["r"] == "mail me at <EMAIL> please"
    assert rows[1]["r"] == "server <IP> down"
    assert rows[2]["r"] == "call <PHONE> now"
    assert rows[3]["r"] == "no pii here"


def test_asof_join_semantics(spark, tmp_path):
    """Each click gets the latest view at-or-before it; no prior view →
    NULL (left-asof); same-instant view matches."""
    import datetime as dt

    from kg_covid_19_spark.streaming import events as ev_mod

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    df = spark.createDataFrame(
        [
            (1, t(10), 7, "view", 0.0, ""),
            (2, t(20), 7, "click", 0.0, ""),   # matches view 1
            (3, t(30), 7, "view", 0.0, ""),
            (4, t(30), 7, "click", 0.0, ""),   # same instant → view 3
            (5, t(5), 9, "click", 0.0, ""),    # no prior view → NULL
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {
        r["click_id"]: (r["view_id"], r["lag_us"])
        for r in ev_mod.evt_asof_view_click(spark, str(tmp_path)).collect()
    }
    assert out[2] == (1, 10_000_000)
    assert out[4] == (3, 0)
    assert out[5] == (None, None)


def test_dup_ngrams_counts(spark, tmp_path):
    from kg_covid_19_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [
            (1, "a b c d x", "en", "s", 9),
            (2, "z a b c d", "en", "s", 9),   # shares 'a b c d' with 1
            (3, "a b c d a b c d", "en", "s", 15),  # contains it twice
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {r["ngram_hash"]: r for r in
            dd.doc_dup_ngrams(spark, str(tmp_path)).collect()}
    import hashlib
    h = hashlib.md5(b"a b c d").hexdigest()
    assert h in rows
    assert rows[h]["n_docs"] == 3
    assert rows[h]["n_occurrences"] == 4

"""Event-stream analytics — Structured Streaming surface.

The reference is a monthly batch build with no streaming semantics
(SURVEY.md §2.9), so this module is the engine's forward-looking surface
over the driver's ``events`` table: windowed aggregation with a watermark
and gap-based sessionization. Each operator exists twice with identical
semantics:

* a batch DataFrame plan (oracle-checked against DuckDB), and
* a streaming plan (``readStream`` → watermark → window → memory sink)
  whose output the tests assert equals the batch result — the
  batch/streaming unification Spark's model promises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.corpus import read_table

WINDOW = "5 minutes"
SESSION_GAP_MIN = 30


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "events")


def evt_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute window per event_type: count + exact sum(value)."""
    return (
        _events(spark, sf_dir)
        .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def evt_windowed_counts_stream(spark: SparkSession, sf_dir: str,
                               query_name: str = "evt_stream") -> DataFrame:
    """The same aggregation as a streaming query over a file source with a
    10-minute watermark, drained synchronously into a memory sink."""
    schema = _events(spark, sf_dir).schema
    stream = (
        spark.readStream.schema(schema)
        # the file source needs a directory; glob-filter to the events file
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        # watermarks require TIMESTAMP (not NTZ); session TZ is UTC so the
        # cast preserves wall-clock values
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


SLIDE = "5 minutes"
SLIDE_WIDTH = "10 minutes"


def evt_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (overlapping) windows — 10-minute windows every 5
    minutes, so each event lands in exactly two windows. The oracle
    expands the same two window-starts per event (time_bucket and
    time_bucket − slide) and aggregates identically."""
    return (
        _events(spark, sf_dir)
        .groupBy(F.window("ts", SLIDE_WIDTH, SLIDE).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def evt_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (the guide's lag+cumsum pattern): a new
    session starts when a user is idle > 30 minutes."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ in the parquet; NTZ→epoch goes via timestamp
    # (session TZ pinned to UTC, so this equals DuckDB's epoch(ts))
    epoch = F.col("ts").cast("timestamp").cast("long")
    gapped = ev.withColumn(
        "new_session",
        F.when(
            epoch - F.lag(epoch).over(w) > SESSION_GAP_MIN * 60,
            1,
        )
        .otherwise(0)
        .cast("int"),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return gapped.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def evt_asof_view_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click matched to the user's most recent view at
    or before it (the time-series join the reference lacks; a custom
    operator per the engine brief).

    Spark-first shape — NOT a range join: union both streams with a
    marker, ONE window per user carries the last non-null view forward
    (``last(..., ignorenulls=True)`` over unbounded-preceding), then
    keep the click rows. A single exchange on user_id, no
    quadratic-per-key candidate expansion, and AQE handles hot users.
    Ties (view and click at the same ts) order views first, then by
    event_id, so the match is total and engine-independent. Clicks with
    no prior view keep NULL view columns (left-asof semantics)."""
    ev = _events(spark, sf_dir).filter(
        F.col("event_type").isin("view", "click")
    )
    m = F.when(F.col("event_type") == "view", F.lit(0)).otherwise(F.lit(1))
    uni = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        m.alias("m"),
        F.when(F.col("event_type") == "view", F.col("event_id")).alias("v_id"),
        F.when(
            F.col("event_type") == "view", F.unix_micros(F.col("ts").cast("timestamp"))
        ).alias("v_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "m", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        uni.withColumn("view_id", F.last("v_id", ignorenulls=True).over(w))
        .withColumn("view_us", F.last("v_us", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            "view_id",
            (
                F.unix_micros(F.col("ts").cast("timestamp")) - F.col("view_us")
            ).alias("lag_us"),
        )
    )


RANGE_WIN_US = 600_000_000  # 10-minute range window, µs


def evt_range_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch RANGE JOIN as a banded equi-join — the second custom
    time-series join next to the as-of (which wants only the LATEST
    match; this wants ALL matches in a window): per click, how many of
    the same user's views fall in the 10 minutes strictly before it.

    Spark has no native range-join optimization, and the naive
    inequality join is a per-user cross product. The scale shape is
    pigeonhole banding: bucket = ts div window; a qualifying view is in
    the click's bucket or the one before, so the view side emits
    (bucket, bucket+1) keys and the join
    is an EQUI-join on (user_id, bucket) — complete by construction
    (each qualifying pair meets on exactly one key, the click's own
    bucket), candidates bounded by per-(user, 10-min-bucket) activity
    rather than per-user history, and the shuffle key diffuses hot
    users over time. Exact µs predicate verifies on candidates; clicks
    with no prior view keep 0 (left semantics). The DuckDB oracle is
    the direct inequality join — same rows, adversarial plan."""
    ev = _events(spark, sf_dir).filter(
        F.col("event_type").isin("view", "click")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("c_us"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("v_us"),
    )
    return range_join_counts_frame(c, v)


def _floor_bkt(col: str):
    """FLOOR division bucket, not SQL `div` (which truncates toward
    zero): the pigeonhole completeness argument is floor-based, so a
    negative (pre-1970) timestamp under `div` would land one bucket
    high and qualifying pairs could miss their meeting key. Pure
    integer: correct the truncated quotient down by one when the
    remainder is negative (Spark % follows the dividend's sign)."""
    return F.expr(
        f"({col} div {RANGE_WIN_US}) - "
        f"(CASE WHEN {col} % {RANGE_WIN_US} < 0 THEN 1 ELSE 0 END)"
    )


def range_join_counts_frame(c: DataFrame, v: DataFrame) -> DataFrame:
    """(click_id, user_id, c_us) × (user_id, v_us) → per-click count of
    same-user views in (c_us - window, c_us). Frame-parametrized so the
    negative-timestamp floor-bucket property is pytest-drivable."""
    ck = c.withColumn("bkt", _floor_bkt("c_us"))
    vb = _floor_bkt("v_us")
    vp = v.select(
        "user_id", "v_us",
        F.explode(F.array(vb, vb + F.lit(1))).alias("bkt"),
    )
    hits = (
        ck.join(vp, ["user_id", "bkt"])
        .filter(
            (F.col("c_us") > F.col("v_us"))
            & (F.col("c_us") - F.col("v_us") <= RANGE_WIN_US)
        )
        .groupBy("click_id")
        .agg(F.count("*").alias("n"))
    )
    return c.join(hits, "click_id", "left").select(
        "click_id",
        "user_id",
        F.coalesce("n", F.lit(0)).alias("n_views_10m"),
    )


def evt_sessions_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization via Spark's NATIVE session_window operator —
    the same semantics evt_sessions builds manually from lag+cumsum
    (their equality is itself asserted by the shared oracle shape:
    window start = first event, window end = last event + gap). The
    native form is the one that carries over to Structured Streaming
    unchanged; the manual form exists because the reference-era
    pattern predates session_window and because DuckDB can only
    express the cumsum form."""
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end_gap"),
            "n_events",
        )
    )


def evt_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-column analytics (the C11 ragged-JSON family at query
    level): extract props.k from the JSON string per event and
    aggregate min/max/sum per event_type — extraction stays inside
    codegen (get_json_object), integers stay exact."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.sum("k").alias("k_sum"),
            F.count("*").alias("n"),
        )
    )


def evt_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day cohort retention: per activity day, how many
    distinct users were active and how many of them were also active
    the next day. Two bounded aggregations (distinct (day, user) is at
    most days×users) and one self-join on the shifted day — the
    standard cohort-analysis shape, all exact integers."""
    ev = _events(spark, sf_dir)
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
    )
    active = ev.select(day.alias("day"), "user_id").distinct()
    nxt = active.select(
        (F.col("day") - 1).alias("day"), F.col("user_id")
    )
    return (
        active.alias("a")
        .join(
            nxt.alias("b"),
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.user_id") == F.col("b.user_id")),
            "left",
        )
        .groupBy(F.col("a.day").alias("day"))
        .agg(
            F.countDistinct("a.user_id").alias("n_active"),
            F.countDistinct("b.user_id").alias("n_retained_next_day"),
        )
    )


BOT_FACTOR = 3  # flag users emitting > BOT_FACTOR x the mean event rate


def evt_bot_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-based bot/spam-user flagging — the traffic-hygiene gate a
    web event pipeline runs before any engagement metric: per user,
    total events and distinct active days, flagged when the user's
    event count exceeds BOT_FACTOR × the fleet mean. The threshold
    compare stays in exact integer cross-multiplication
    (n_events · n_users > BOT_FACTOR · total_events) — no float mean,
    no percentile, so the flag is engine- and scale-reproducible.

    100 TB shape: one user-keyed aggregation (distinct days collapse
    map-side per user), a 1-row total broadcast, and a row-local
    predicate — the same single-exchange budget as the session
    queries.

    The synthetic fleet is near-uniform (max/mean ≈ 1.4), so no user
    trips a 3× gate there — the oracle still hash-verifies the whole
    flag COLUMN, and the planted pytest
    (test_bot_users_planted_flood) pins the flagged branch."""
    return bot_users_frame(_events(spark, sf_dir))


def bot_users_frame(events: DataFrame) -> DataFrame:
    """Frame-level core of evt_bot_users — injectable so a planted
    flood user exercises the flagged branch."""
    ev = events.select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("day").cast("long").alias("n_days"),
    )
    tot = per_user.agg(
        F.sum("n_events").cast("long").alias("total_events"),
        F.count("*").cast("long").alias("n_users"),
    )
    return (
        per_user.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n_events",
            "n_days",
            (
                F.col("n_events") * F.col("n_users")
                > F.lit(BOT_FACTOR) * F.col("total_events")
            ).alias("flagged"),
        )
    )


TEMPORAL_SPLIT_TS = "2024-01-24 00:00:00"


def evt_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal holdout accounting — THE evaluation split for event/
    recommendation models (random splits leak the future into
    training): everything before a fixed boundary trains, everything
    after tests, and the report carries the warm/cold decomposition an
    honest temporal eval must publish — test users WITH train history
    (warm: the model has seen them) vs without (cold-start), plus how
    many test events each group owns. One user-keyed aggregation (the
    single exchange; distinct-user day counts collapse map-side) then
    a 1-row rollup — no event-level self-joins, no per-row Python.

    The boundary is a constant, not a computed quantile: a quantile
    boundary would shift with every ingest and silently re-label past
    eval sets; production temporal evals pin the wall-clock cut."""
    return temporal_split_frame(_events(spark, sf_dir), TEMPORAL_SPLIT_TS)


def temporal_split_frame(events: DataFrame, boundary: str) -> DataFrame:
    """Frame-level core of evt_temporal_split — injectable so the
    cold-start branch (zero on the always-active synthetic users) is
    pinned by a planted pytest, the schema_validation pattern."""
    ev = events.select(
        "user_id",
        (F.col("ts") < F.lit(boundary).cast("timestamp")).alias("is_train"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("is_train"), 1).otherwise(0)).alias("n_tr"),
        F.sum(F.when(F.col("is_train"), 0).otherwise(1)).alias("n_te"),
    )
    return per_user.agg(
        F.sum("n_tr").cast("long").alias("n_train_events"),
        F.sum("n_te").cast("long").alias("n_test_events"),
        F.sum(F.when(F.col("n_tr") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_train_users"),
        F.sum(F.when(F.col("n_te") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_test_users"),
        F.sum(F.when((F.col("n_te") > 0) & (F.col("n_tr") > 0), 1).otherwise(0))
        .cast("long")
        .alias("n_warm_test_users"),
        F.sum(F.when((F.col("n_te") > 0) & (F.col("n_tr") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n_cold_test_users"),
        F.sum(F.when(F.col("n_tr") > 0, F.col("n_te")).otherwise(0))
        .cast("long")
        .alias("n_warm_test_events"),
    )


def evt_approx_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event type
    (approx_count_distinct, rsd 2%) — the mergeable-sketch counting
    member next to the percentile sketch (txt_len_deciles_approx): at
    100 TB an exact countDistinct shuffles every (type, user) pair,
    while the HLL state is a few KB per group merged map-side.

    Rows-only driver check by design: sketch estimates differ across
    engines; the accuracy contract is the pytest tolerance test
    (estimate within 3·rsd of the exact count), mirroring the deciles
    bracket test."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("n_users_approx")
    )


def evt_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-length distribution: how many sessions contain each
    event count — the QC readout over the sessionization output (a
    gap-threshold bug shows up here as a mass shift long before
    anyone reads individual sessions). Builds on evt_sessions; one
    extra bounded groupBy (session lengths are small integers)."""
    return (
        evt_sessions(spark, sf_dir)
        .groupBy("n_events")
        .agg(F.count("*").alias("n_sessions"))
    )


TRIGRAM_TOP_K = 20


def evt_user_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral n-gram mining: top-K event-type TRIGRAMS across all
    user timelines (the sequence-pattern statistic funnels specialize
    — a funnel is one chosen trigram). Each user's events are ordered
    by (ts, event_id) (total order, deterministic); two lag windows
    over the ONE user_id exchange build the trigram, a bounded groupBy
    counts it, and the final top-K is a TakeOrdered with a
    lexicographic tiebreak."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.select(
            "user_id",
            F.concat_ws(
                ">",
                F.lag("event_type", 2).over(w),
                F.lag("event_type", 1).over(w),
                F.col("event_type"),
            ).alias("trigram"),
            F.lag("event_type", 2).over(w).alias("_g2"),
        )
        .filter(F.col("_g2").isNotNull())
    )
    return (
        tri.groupBy("trigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("trigram"))
        .limit(TRIGRAM_TOP_K)
    )


FUNNEL_STAGES = ["none", "view", "view_click", "view_click_purchase"]


def evt_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel: how many users progressed
    view → click → purchase IN TIME ORDER (a later click only counts
    after the first view; a purchase only after that click).

    One exchange total: the three per-user minima are chained window
    aggregates over the SAME partitioning (t_click's predicate reads
    t_view, etc.), so Catalyst reuses the user_id exchange for all
    three Window operators, and the final per-user reduce is a
    partial-agg groupBy. No self-joins, no per-user event arrays.

    Scoped to the first day of the stream — over the full span every
    user completes every stage and the funnel degenerates to one row."""
    ev = (
        _events(spark, sf_dir)
        .filter(F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp"))
        .select("user_id", "event_type", "ts")
    )
    w = Window.partitionBy("user_id")
    t_view = F.min(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w)
    staged = ev.withColumn("t_view", t_view)
    t_click = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") >= F.col("t_view")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t_click", t_click)
    t_purchase = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.col("t_click")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t_purchase", t_purchase)
    per_user = staged.groupBy("user_id").agg(
        F.min("t_view").alias("tv"),
        F.min("t_click").alias("tc"),
        F.min("t_purchase").alias("tp"),
    )
    stage = (
        F.when(F.col("tp").isNotNull(), FUNNEL_STAGES[3])
        .when(F.col("tc").isNotNull(), FUNNEL_STAGES[2])
        .when(F.col("tv").isNotNull(), FUNNEL_STAGES[1])
        .otherwise(FUNNEL_STAGES[0])
    )
    return per_user.select(stage.alias("stage")).groupBy("stage").agg(
        F.count("*").alias("n_users")
    )


# shared by the evt_sessions and evt_session_stats oracles — one
# definition of the gap/cumsum sessionization chain so a gap-threshold
# or ordering change cannot diverge between sessions and their stats
_SESSIONS_CTE = """gapped AS (
  SELECT user_id, ts, event_id,
    CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800 THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  -- CAST: DuckDB sum(INT) is HUGEINT (no Arrow int128) — degrades to
  -- double through a pandas fetch; int64 hashes identically to Spark.
  SELECT user_id, ts,
    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM gapped
)"""


SPIKE_TRAIL = 3    # trailing buckets forming the baseline
SPIKE_FACTOR = 2   # spike when n > SPIKE_FACTOR x trailing mean


def evt_rate_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly flags — the monitoring query every ingest
    pipeline runs next to its windowed counts: per (event_type, hour)
    bucket, compare the count against the trailing SPIKE_TRAIL-bucket
    mean and flag buckets more than SPIKE_FACTOR× above it. The
    comparison is cross-multiplied (n·TRAIL > FACTOR·Σtrailing) so it
    stays in exact integers — no float mean, no cross-engine rounding.
    Buckets without a full trailing history are excluded (their
    baseline is undefined), pinned by n_prev = TRAIL in both engines.

    Scale shape: the heavy step is the first aggregation (events →
    per-type-per-hour counts, partial-agg map-side); the window then
    runs over the tiny bucket series, partitioned by event_type — at
    web scale the same two-level shape holds with the window partition
    widened to (type, day) to bound any one partition's series."""
    return rate_spikes_frame(_events(spark, sf_dir))


def rate_spikes_frame(events: DataFrame) -> DataFrame:
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket_start"),
        "event_type",
    ).agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_start")
        .rowsBetween(-SPIKE_TRAIL, -1)
    )
    return (
        hourly.select(
            "event_type",
            "bucket_start",
            "n",
            F.sum("n").over(w).alias("trailing"),
            F.count("n").over(w).alias("n_prev"),
        )
        .filter(F.col("n_prev") == SPIKE_TRAIL)
        .select(
            "event_type",
            "bucket_start",
            "n",
            "trailing",
            (
                F.col("n") * SPIKE_TRAIL
                > SPIKE_FACTOR * F.col("trailing")
            ).alias("spike"),
        )
    )


EVENTS_ORACLES = {
    "evt_bot_users": f"""
WITH per_user AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
  FROM events GROUP BY user_id
),
tot AS (
  SELECT CAST(sum(n_events) AS BIGINT) AS total_events,
         CAST(count(*) AS BIGINT) AS n_users
  FROM per_user
)
SELECT user_id, n_events, n_days,
       n_events * n_users > {BOT_FACTOR} * total_events AS flagged
FROM per_user CROSS JOIN tot
""",
    "evt_temporal_split": f"""
WITH per_user AS (
  SELECT user_id,
         sum(CASE WHEN ts < TIMESTAMP '{TEMPORAL_SPLIT_TS}'
                  THEN 1 ELSE 0 END) AS n_tr,
         sum(CASE WHEN ts < TIMESTAMP '{TEMPORAL_SPLIT_TS}'
                  THEN 0 ELSE 1 END) AS n_te
  FROM events GROUP BY user_id
)
SELECT CAST(sum(n_tr) AS BIGINT) AS n_train_events,
       CAST(sum(n_te) AS BIGINT) AS n_test_events,
       CAST(sum(CASE WHEN n_tr > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_train_users,
       CAST(sum(CASE WHEN n_te > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_test_users,
       CAST(sum(CASE WHEN n_te > 0 AND n_tr > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_warm_test_users,
       CAST(sum(CASE WHEN n_te > 0 AND n_tr = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cold_test_users,
       CAST(sum(CASE WHEN n_tr > 0 THEN n_te ELSE 0 END) AS BIGINT)
         AS n_warm_test_events
FROM per_user
""",
    "evt_rate_spikes": f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_start,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
win AS (
  SELECT event_type, bucket_start, n,
    sum(n) OVER (PARTITION BY event_type ORDER BY bucket_start
                 ROWS BETWEEN {SPIKE_TRAIL} PRECEDING AND 1 PRECEDING)
      AS trail_sum,
    count(n) OVER (PARTITION BY event_type ORDER BY bucket_start
                   ROWS BETWEEN {SPIKE_TRAIL} PRECEDING AND 1 PRECEDING)
      AS n_prev
  FROM hourly
)
SELECT event_type, bucket_start, n, CAST(trail_sum AS BIGINT) AS "trailing",
       n * {SPIKE_TRAIL} > {SPIKE_FACTOR} * trail_sum AS spike
FROM win WHERE n_prev = {SPIKE_TRAIL}
""",
    "evt_windowed_counts": """
SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, event_type,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
""",
    "evt_session_stats": f"""
WITH {_SESSIONS_CTE},
per AS (
  SELECT user_id, session_id, count(*) AS n_events
  FROM sess GROUP BY user_id, session_id
)
SELECT n_events, count(*) AS n_sessions FROM per GROUP BY n_events
""",
    "evt_user_trigrams": f"""
WITH tri AS (
  SELECT user_id,
    lag(event_type, 2) OVER w AS g2,
    lag(event_type, 1) OVER w AS g1,
    event_type AS g0
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT g2 || '>' || g1 || '>' || g0 AS trigram, count(*) AS n
FROM tri WHERE g2 IS NOT NULL
GROUP BY 1 ORDER BY n DESC, trigram ASC LIMIT {TRIGRAM_TOP_K}
""",
    "evt_sessions": f"""
WITH {_SESSIONS_CTE}
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM sess GROUP BY user_id, session_id
""",
    "evt_props_stats": """
WITH k AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type, min(k) AS k_min, max(k) AS k_max,
       CAST(sum(k) AS BIGINT) AS k_sum, count(*) AS n
FROM k WHERE k IS NOT NULL GROUP BY event_type
""",
    "evt_retention": """
WITH active AS (
  SELECT DISTINCT
    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day, user_id
  FROM events
),
nxt AS (SELECT day - 1 AS day, user_id FROM active)
SELECT a.day, count(DISTINCT a.user_id) AS n_active,
       count(DISTINCT b.user_id) AS n_retained_next_day
FROM active a
LEFT JOIN nxt b ON a.day = b.day AND a.user_id = b.user_id
GROUP BY a.day
""",
    "evt_sliding_counts": """
WITH expanded AS (
  SELECT event_type,
    unnest([time_bucket(INTERVAL '5 minutes', ts),
            time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'])
      AS window_start
  FROM events
)
SELECT window_start, event_type, count(*) AS n
FROM expanded GROUP BY window_start, event_type
""",
    # native session_window semantics: a gap of EXACTLY the window size
    # starts a new session ([start, end) windows) — hence >= here where
    # evt_sessions' manual cumsum uses > (both pinned deliberately)
    "evt_sessions_native": """
WITH gapped AS (
  SELECT user_id, ts,
    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM gapped
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end_gap,
       count(*) AS n_events
FROM sess GROUP BY user_id, sid
""",
    # windowed carry-forward, not DuckDB's native ASOF JOIN: ASOF leaves
    # the equal-max-ts tie unordered, this pins views-first + event_id
    "evt_range_join_counts": """
WITH c AS (
  SELECT event_id AS click_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS c_us
  FROM events WHERE event_type = 'click'
),
v AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS v_us
  FROM events WHERE event_type = 'view'
)
SELECT c.click_id, c.user_id,
       CAST(count(v.v_us) AS BIGINT) AS n_views_10m
FROM c LEFT JOIN v
  ON v.user_id = c.user_id
 AND c.c_us > v.v_us AND c.c_us - v.v_us <= 600000000
GROUP BY c.click_id, c.user_id
""",
    "evt_asof_view_click": """
WITH uni AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS m,
    CASE WHEN event_type = 'view' THEN event_id END AS v_id,
    CASE WHEN event_type = 'view' THEN epoch_us(ts) END AS v_us
  FROM events WHERE event_type IN ('view', 'click')
),
carried AS (
  SELECT *,
    last_value(v_id IGNORE NULLS) OVER w AS view_id,
    last_value(v_us IGNORE NULLS) OVER w AS view_us
  FROM uni
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, m, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id AS click_id, user_id, view_id,
       epoch_us(ts) - view_us AS lag_us
FROM carried WHERE event_type = 'click'
""",
    "evt_funnel": """
WITH w1 AS (
  SELECT user_id, event_type, ts,
    min(CASE WHEN event_type = 'view' THEN ts END)
      OVER (PARTITION BY user_id) AS t_view
  FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
),
w2 AS (
  SELECT *,
    min(CASE WHEN event_type = 'click' AND ts >= t_view THEN ts END)
      OVER (PARTITION BY user_id) AS t_click
  FROM w1
),
w3 AS (
  SELECT *,
    min(CASE WHEN event_type = 'purchase' AND ts >= t_click THEN ts END)
      OVER (PARTITION BY user_id) AS t_purchase
  FROM w2
),
per_user AS (
  SELECT user_id, min(t_view) AS tv, min(t_click) AS tc,
         min(t_purchase) AS tp
  FROM w3 GROUP BY user_id
)
SELECT CASE
    WHEN tp IS NOT NULL THEN 'view_click_purchase'
    WHEN tc IS NOT NULL THEN 'view_click'
    WHEN tv IS NOT NULL THEN 'view'
    ELSE 'none' END AS stage,
  count(*) AS n_users
FROM per_user GROUP BY 1
""",
}

EVENTS_QUERIES = {
    "evt_windowed_counts": evt_windowed_counts,
    "evt_sessions": evt_sessions,
    "evt_asof_view_click": evt_asof_view_click,
    "evt_range_join_counts": evt_range_join_counts,
    "evt_funnel": evt_funnel,
    "evt_sessions_native": evt_sessions_native,
    "evt_sliding_counts": evt_sliding_counts,
    "evt_rate_spikes": evt_rate_spikes,
    "evt_temporal_split": evt_temporal_split,
    "evt_bot_users": evt_bot_users,
    "evt_retention": evt_retention,
    "evt_props_stats": evt_props_stats,
    "evt_approx_user_counts": evt_approx_user_counts,
    "evt_user_trigrams": evt_user_trigrams,
    "evt_session_stats": evt_session_stats,
}


def _interval_join(views: DataFrame, clicks: DataFrame) -> DataFrame:
    """Shared join predicate: each click ⋈ same-user views within the
    preceding 10 minutes (inclusive) — used identically by the batch
    and streaming forms, so their parity is structural."""
    return clicks.join(
        views,
        F.expr(
            """
            c_user = v_user AND
            view_ts BETWEEN click_ts - INTERVAL 10 MINUTES AND click_ts
            """
        ),
    ).select("c_user", "click_id", "click_ts", "view_id", "view_ts")


def _view_click_sides(ev: DataFrame) -> tuple[DataFrame, DataFrame]:
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").cast("timestamp").alias("view_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").cast("timestamp").alias("click_ts"),
    )
    return views, clicks


def stream_view_click_join(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    query_name: str = "evt_interval_join_stream",
) -> DataFrame:
    """Stream-stream interval join (§2.9 depth): clicks joined to
    same-user views within the preceding 10 minutes, BOTH sides
    watermarked so the join state is bounded — the state-store holds
    only rows younger than watermark + interval, the Structured
    Streaming contract that makes stream-stream joins feasible at all.
    Drains available input, then returns the accumulated output; the
    test pins equality with the batch form of the identical predicate."""
    schema = spark.read.parquet(events_dir).schema
    ev = spark.readStream.schema(schema).parquet(events_dir)
    views, clicks = _view_click_sides(ev)
    joined = _interval_join(
        views.withWatermark("view_ts", "10 minutes"),
        clicks.withWatermark("click_ts", "10 minutes"),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.read.parquet(out_dir)


def batch_view_click_join(spark: SparkSession, events_dir: str) -> DataFrame:
    """The batch plan the stream must converge to (same predicate)."""
    views, clicks = _view_click_sides(spark.read.parquet(events_dir))
    return _interval_join(views, clicks)

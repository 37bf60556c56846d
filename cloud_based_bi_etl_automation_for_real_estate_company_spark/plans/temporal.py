"""Temporal/event-stream extension queries: as-of join, sessionization,
plus remaining scalar parity bits (P15). All oracle-checked.

The as-of oracle uses DuckDB's native ASOF JOIN; the Spark side is the
union-and-propagate rewrite in operators.asof — comparing the two is a
genuine cross-engine differential test of the operator's semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..operators.sessions import sessionize
from ..functions.transforms import dsum
from .measures import t


def q_t1_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every purchase event, the user's most recent
    click at-or-before it ("state of lead at time T" over the event
    log, SURVEY.md §7 / reference README.md:147 action_history)."""
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        payload=["click_id", "click_ts"],
    )


def q_t2_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min timeout) + per-session rollup.
    Duration reported in exact integer microseconds so the oracle
    (epoch_us) and Spark (unix_micros) agree bit-for-bit."""
    ev = t(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", gap_minutes=30)
    return s.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("session_value"),
        (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))).alias("duration_us"),
    )


def q_t3_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 terms: explode tokens → count → rank (token
    counting at corpus granularity; explode is map-side, the count is
    one hash-agg shuffle on the token)."""
    from ..functions.text import tokens
    from ..operators.partitioning import sharded_topk

    d = t(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return sharded_topk(
        counts, 20, [F.desc("n"), F.asc("token")], shard_cols=["token"]
    )


def q_t4_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in ``session_window`` sessionization — must agree with the
    hand-rolled lag/cumsum rewrite (the oracle replays the latter, so
    this differentially proves the two formulations equivalent).
    Session end = last event + gap, per Spark's definition."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def q_t5_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (bucketed rewrite): clicks within 30 min before each
    purchase, aggregated per purchase. The oracle states the naive
    inequality join — the bucketed equi-join must produce identical
    pairs."""
    from ..operators.range_join import range_join

    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    pairs = range_join(
        purchases, clicks, on=["user_id"], left_ts="ts", right_ts="click_ts",
        window_seconds=30 * 60,
    )
    return (
        pairs.groupBy("purchase_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks_30m"),
            F.min("click_id").alias("first_click_id"),
        )
    )


def q_t6_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup: per-user 5-minute OHLC bars over the
    event stream (one tumbling-window hash aggregation; open/close via
    associative struct-extrema, volume decimal-exact)."""
    from ..operators.timeseries import ohlc_downsample

    return ohlc_downsample(t(spark, sf_dir, "events"), bucket="5 minutes")


def q_t7_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled + forward-filled daily series (time_bucket_gapfill /
    locf class): high-value purchase revenue per user cohort, a row
    for EVERY day of the span with gaps carrying the last observation
    forward. The >120 value filter makes the series genuinely sparse
    so the fill path is exercised."""
    from ..operators.timeseries import gap_fill_daily

    ev = t(spark, sf_dir, "events")
    sparse = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 120)
    ).select(F.pmod("user_id", F.lit(20)).alias("series"), "ts", "value")
    return gap_fill_daily(sparse, key_col="series")


def q_t8_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential smoothing (EWMA, alpha=0.3) of daily revenue per
    event type — the sequential-fold rollup window functions cannot
    express, run as a JVM-side higher-order aggregate over each key's
    calendar-bounded daily series."""
    from ..operators.timeseries import ewma_daily

    ev = t(spark, sf_dir, "events")
    return ewma_daily(
        ev.select(F.col("event_type").alias("series"), "ts", "value"),
        key_col="series",
        alpha=0.3,
    )


def q_t10_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend, α=0.3 β=0.2)
    of daily revenue per event type — the slope-aware forecast t8's
    level-only EWMA can't produce. Pair-state struct fold, in-engine
    constants; the oracle replays the identical fold with
    list_reduce."""
    from ..operators.timeseries import holt_daily

    ev = t(spark, sf_dir, "events")
    return holt_daily(
        ev.select(F.col("event_type").alias("series"), "ts", "value"),
        key_col="series",
        alpha=0.3,
        beta=0.2,
    )


def q_t9_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection on the daily revenue series per event
    type: modified z-score 0.6745·(v−median)/MAD with the standard
    |z| > 3.5 flag (Iglewicz & Hoaglin 1993) — median/MAD because at
    100 TB a handful of broken-feed days would drag a mean/stddev
    control band toward themselves and mask their own anomaly.

    Plan: one fact-scan daily rollup (decimal revenue), then two
    per-key exact-percentile aggregates over the key×days table —
    which is cluster-trivial (keys × calendar days, not fact-sized) —
    each joined back broadcast. The daily values are exact decimals
    cast to double, so both engines interpolate identical medians."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("series"), F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("v")
    )
    med = daily.groupBy("series").agg(
        F.expr("percentile(v, 0.5)").alias("med")
    )
    dev = daily.join(F.broadcast(med), "series").withColumn(
        "adev", F.abs(F.col("v") - F.col("med"))
    )
    mad = dev.groupBy("series").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    rz = F.lit(0.6745) * F.try_divide(F.col("v") - F.col("med"), F.col("mad"))
    return (
        dev.join(F.broadcast(mad), "series")
        .select(
            "series",
            "day",
            "v",
            "med",
            "mad",
            rz.alias("robust_z"),
            # when-form so a NULL z (mad=0) flags 0, matching the
            # oracle's CASE ELSE branch
            F.when(F.abs(rz) > 3.5, 1).otherwise(0).alias("is_anomaly"),
        )
    )


def q_t11_interval_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the stream–stream interval join (ST-family):
    run streaming.stateful.stream_stream_interval_join's exact plan on
    batch frames (withWatermark is a no-op outside streaming) and
    aggregate per purchase. pytest already proves drained-stream ==
    batch for this operator; this query gives the shared join logic an
    independent DuckDB check. Same semantics as t5_range_join but
    through the streaming operator's own code path."""
    from ..streaming.stateful import stream_stream_interval_join

    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    pairs = stream_stream_interval_join(purchases, clicks, window_minutes=30)
    return pairs.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_clicks_30m"),
        F.min("click_id").alias("first_click_id"),
    )


def q_t12_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt–Winters additive triple smoothing (level + trend + weekly
    seasonality) over the per-event-type daily revenue series — the
    seasonality-aware upgrade of t10. The m+2-double struct state
    folds JVM-side; the oracle replays the identical double
    arithmetic as a recursive CTE carrying the seasonal queue as a
    LIST column."""
    from ..operators.timeseries import holt_winters_daily

    ev = t(spark, sf_dir, "events")
    return holt_winters_daily(
        ev.select(F.col("event_type").alias("series"), "ts", "value"),
        key_col="series",
    )


def q_t13_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per (user, day) — Timescale's
    ``time_weight`` rollup class: LOCF spans in exact microseconds,
    decimal value·duration accumulation, one (user, day) window sort.
    Restricted to users with id < 200 for a bounded gate payload."""
    from ..operators.timeseries import twap_daily

    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    return twap_daily(ev)


def q_t14_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint monitor (Page 1954) on daily
    revenue per event type — the shift detector that closes the
    monitoring family (t8 EWMA level, t10/t12 forecasts, t14 decides
    WHEN the level moved). Scalar-state fold, per-key decimal-exact
    mean as the in-control target; oracle replays the fold as a
    recursive CTE with the identical double expression tree."""
    from ..operators.timeseries import cusum_daily

    ev = t(spark, sf_dir, "events")
    return cusum_daily(
        ev.select(F.col("event_type").alias("series"), "ts", "value"),
        key_col="series",
    )


def q_t15_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest: one-step-ahead MAPE of the Holt model per
    series (yesterday's level+trend forecast vs today's actual) — the
    eval harness that decides whether t10's smoothing constants are
    worth shipping, closing the forecast family the way x_calibration
    closes the classifier. Reuses the identical fold; the error rollup
    is one lag window + a 9-dp decimal mean, and the oracle nests
    t10's recursive replay as a CTE so the two can never drift."""
    from ..operators.timeseries import holt_daily

    ev = t(spark, sf_dir, "events")
    h = holt_daily(
        ev.select(F.col("event_type").alias("series"), "ts", "value"),
        key_col="series",
        alpha=0.3,
        beta=0.2,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("series").orderBy("day")
    e = h.select(
        "series",
        "day_value",
        F.lag("forecast").over(w).alias("prev_fc"),
    ).filter(F.col("prev_fc").isNotNull())
    ape = F.abs(F.col("day_value") - F.col("prev_fc")) / F.col("day_value")
    return e.groupBy("series").agg(
        F.count(F.lit(1)).alias("n_days"),
        (
            F.sum(F.round(ape, 9).cast("decimal(38,9)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mape"),
    )


def q_t16_cusum_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the CUSUM fold: run the Python scalar fold
    (``streaming.stateful._cusum_fold``) as a one-shot batch group-map
    and emit the FINAL row per series — (series, n_seen, cusum,
    alarm), the shape a monitor reads. Daily grain and the
    decimal-exact per-series mean target are identical to t14_cusum,
    so the oracle reuses t14's recursive replay and keeps only the
    last recursion row."""
    from ..streaming.stateful import cusum_drain_batch

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("series"), F.to_date("ts").alias("day")
    ).agg(dsum("value", 6).alias("v"))
    mu = daily.groupBy("series").agg(
        (
            F.sum(F.round(F.col("v"), 6).cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mu")
    )
    prepped = daily.join(F.broadcast(mu), "series").select(
        "series",
        "day",
        "v",
        (F.col("mu") + F.lit(0.05) * F.col("mu")).alias("target"),
        (F.lit(0.5) * F.col("mu")).alias("threshold"),
    )
    return cusum_drain_batch(prepped)


def q_t17_rolling_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day p50/p95/p99 per event type from MERGED daily
    t-digests — the monitoring query sketch-table reuse exists for:
    per-(type, day) centroids are built once (a kilobyte table), and
    every trailing window is answered by re-merging ≤ 7 digests
    (operators/sketches.tdigest_merge) instead of re-scanning a
    window of raw facts — at 100 TB the difference between a
    dashboard tile and a nightly job. Audit form: per (type, window
    day, q), the exact window row count (hash-checked) plus the
    rank_ok ≤ max(0.05, 1/n) boolean against the window's raw rows.

    Both trailing-window joins are expressed as EXPLODED equi-joins
    (each small side emits one row per day of its 7-day window, then
    joins on (type, day)) rather than range predicates: a range join
    against the fact table plans as a broadcast nested-loop —
    rows × windows predicate evaluations, the round-7 bench's top
    cost — where the exploded form is a broadcast hash join the fact
    scan streams through once."""
    from ..operators import sketches as K

    ev = t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = K.tdigest_centroids(
        ev, ["event_type", "day"], "value", delta=100, n_shards=4
    )
    spine = ev.select("event_type", F.col("day").alias("wday")).distinct()
    # each daily digest contributes to the 7 windows wday = day..day+6;
    # the spine join keeps only windows that exist in the data
    contrib = daily.select(
        "event_type",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("wday"),
        "mean",
        "weight",
    )
    windowed = contrib.join(F.broadcast(spine), ["event_type", "wday"]).select(
        "event_type", "wday", "mean", "weight"
    )
    merged = K.tdigest_merge(windowed, ["event_type", "wday"], delta=100)
    est = K.tdigest_quantiles(merged, ["event_type", "wday"], [0.5, 0.95, 0.99])
    # audit: explode each (type, wday, q) estimate into its 7 member
    # days and hash-join the facts on (type, day) — no nested loop
    est_days = est.select(
        "event_type",
        "wday",
        "q",
        "est",
        F.explode(
            F.sequence(F.date_sub(F.col("wday"), 6), F.col("wday"))
        ).alias("day"),
    )
    win_rows = ev.join(F.broadcast(est_days), ["event_type", "day"])
    return win_rows.groupBy("event_type", "wday", "q").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            F.abs(
                F.sum(
                    F.when(F.col("value") <= F.col("est"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)).cast("double")
                - F.col("q")
            )
            <= F.greatest(
                F.lit(0.05), F.lit(1.0) / F.count(F.lit(1)).cast("double")
            )
        ).alias("rank_ok"),
    )


def q_t18_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series per event type
    at lags 1..6 (operators/timeseries.py: acf_integer) — the
    seasonality diagnostic ahead of the t10/t12 smoothers; integer
    cross-multiplied estimator, one float division at the end."""
    from ..operators.timeseries import acf_integer

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("series"),
        F.col("ts").cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).alias("x"))
    return acf_integer(daily)


def q_t19_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation of daily purchase counts against daily view
    counts at lags −3..+3 (operators/timeseries.py: xcorr_integer) —
    positive lag = views LEAD purchases by that many days; the
    lead/lag diagnostic behind attribution windows."""
    from ..operators.timeseries import xcorr_integer

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    return xcorr_integer(
        daily.filter(F.col("event_type") == "purchase").select("day", "x"),
        daily.filter(F.col("event_type") == "view").select("day", "x"),
    )


def q_p15_case_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P15 — string case transforms (webhook_app.py:176 account.upper())."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("segment_lower"),
    )


ORACLES: dict[str, str] = {
    "t14_cusum": """
        WITH RECURSIVE daily AS (
            SELECT event_type AS series, CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
            FROM events GROUP BY 1, 2),
        mu AS (
            SELECT series,
                   CAST(SUM(CAST(ROUND(v, 6) AS DECIMAL(28,6))) AS DOUBLE)
                       / CAST(COUNT(*) AS DOUBLE) AS mu
            FROM daily GROUP BY 1),
        ser AS (
            SELECT series,
                   list(struct_pack(day := day, v := v) ORDER BY day) AS s
            FROM daily GROUP BY 1),
        f AS (
            SELECT ser.series, 0 AS k,
                   GREATEST(0.0, s[1].v - (mu + 0.05 * mu)) AS cs
            FROM ser JOIN mu USING (series)
            UNION ALL
            SELECT f.series, f.k + 1,
                   GREATEST(0.0, f.cs + (s[f.k + 2].v - (mu + 0.05 * mu)))
            FROM f JOIN ser USING (series) JOIN mu USING (series)
            WHERE f.k + 1 < len(s))
        SELECT f.series,
               s[f.k + 1].day AS day,
               s[f.k + 1].v AS day_value,
               f.cs AS cusum,
               f.cs > 0.5 * mu AS alarm
        FROM f JOIN ser USING (series) JOIN mu USING (series)
    """,
    "t10_holt": """
        WITH RECURSIVE daily AS (
            SELECT event_type AS series, CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
            FROM events GROUP BY 1, 2),
        ser AS (
            SELECT series,
                   list(struct_pack(day := day, v := v) ORDER BY day) AS s
            FROM daily GROUP BY 1),
        -- the pair-state fold as a recursion: one row per (series, k)
        -- carrying (level, trend); DuckDB 1.0's list_reduce mis-folds
        -- struct accumulators, so the oracle iterates instead — same
        -- double expression tree per step as the Spark lambda
        f AS (
            SELECT series, 0 AS k, s[1].v AS l, CAST(0.0 AS DOUBLE) AS b
            FROM ser
            UNION ALL
            SELECT f.series, f.k + 1,
                   0.3 * s[f.k + 2].v + (1.0 - 0.3) * (f.l + f.b),
                   0.2 * ((0.3 * s[f.k + 2].v + (1.0 - 0.3) * (f.l + f.b))
                          - f.l)
                     + (1.0 - 0.2) * f.b
            FROM f JOIN ser USING (series)
            WHERE f.k + 1 < len(s))
        SELECT f.series,
               s[f.k + 1].day AS day,
               s[f.k + 1].v AS day_value,
               f.l AS level,
               f.b AS trend,
               f.l + f.b AS forecast
        FROM f JOIN ser USING (series)
    """,
    "t13_twap": """
        WITH spans AS (
            SELECT user_id, CAST(ts AS DATE) AS day, value,
                   epoch_us(LEAD(ts) OVER (
                       PARTITION BY user_id, CAST(ts AS DATE)
                       ORDER BY ts, event_id)) - epoch_us(ts) AS dt
            FROM events WHERE user_id < 200)
        SELECT user_id, day,
               COUNT(*) AS n_spans,
               CAST(SUM(dt) AS BIGINT) AS total_us,
               CAST(SUM(CAST(ROUND(value * dt, 6) AS DECIMAL(28,6)))
                    AS DOUBLE)
                   / CAST(CAST(SUM(dt) AS BIGINT) AS DOUBLE) AS twap
        FROM spans WHERE dt IS NOT NULL
        GROUP BY 1, 2
    """,
    "t12_holt_winters": """
        WITH RECURSIVE daily AS (
            SELECT event_type AS series, CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
            FROM events GROUP BY 1, 2),
        ser AS (
            SELECT series,
                   list(struct_pack(day := day, v := v) ORDER BY day) AS s
            FROM daily GROUP BY 1),
        -- triple-smoothing fold as recursion; seas is the LIST queue
        -- of the last 7 seasonal estimates (head = s_{k-7}); every
        -- double expression is written exactly as the Spark lambda
        -- computes it (inlined, same operation order)
        f AS (
            SELECT series, 0 AS k, s[1].v AS l, CAST(0.0 AS DOUBLE) AS b,
                   [CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
                       AS seas
            FROM ser
            UNION ALL
            SELECT f.series, f.k + 1,
                   0.3 * (s[f.k + 2].v - f.seas[1])
                       + (1.0 - 0.3) * (f.l + f.b),
                   0.2 * ((0.3 * (s[f.k + 2].v - f.seas[1])
                           + (1.0 - 0.3) * (f.l + f.b)) - f.l)
                       + (1.0 - 0.2) * f.b,
                   list_append(
                       f.seas[2:7],
                       0.3 * (s[f.k + 2].v
                              - (0.3 * (s[f.k + 2].v - f.seas[1])
                                 + (1.0 - 0.3) * (f.l + f.b)))
                           + (1.0 - 0.3) * f.seas[1])
            FROM f JOIN ser USING (series)
            WHERE f.k + 1 < len(s))
        SELECT f.series,
               s[f.k + 1].day AS day,
               s[f.k + 1].v AS day_value,
               f.l AS level,
               f.b AS trend,
               f.seas[7] AS seasonal,
               f.l + f.b + f.seas[1] AS forecast
        FROM f JOIN ser USING (series)
    """,
    "t9_anomaly_mad": """
        WITH daily AS (
            SELECT event_type AS series, CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
            FROM events GROUP BY 1, 2),
        med AS (
            SELECT series, quantile_cont(v, 0.5) AS med
            FROM daily GROUP BY 1),
        dev AS (
            SELECT d.series, d.day, d.v, m.med, abs(d.v - m.med) AS adev
            FROM daily d JOIN med m USING (series)),
        mad AS (
            SELECT series, quantile_cont(adev, 0.5) AS mad
            FROM dev GROUP BY 1)
        SELECT dev.series, dev.day, dev.v, dev.med, mad.mad,
               0.6745 * CASE WHEN mad.mad = 0 THEN NULL
                             ELSE (dev.v - dev.med) / mad.mad END AS robust_z,
               CASE WHEN abs(0.6745 * CASE WHEN mad.mad = 0 THEN NULL
                                           ELSE (dev.v - dev.med) / mad.mad END) > 3.5
                    THEN 1 ELSE 0 END AS is_anomaly
        FROM dev JOIN mad USING (series)
    """,
    "t8_ewma": """
        WITH daily AS (
            SELECT event_type AS series, CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
            FROM events GROUP BY 1, 2),
        ser AS (
            SELECT series,
                   list(struct_pack(day := day, v := v) ORDER BY day) AS s
            FROM daily GROUP BY 1),
        pos AS (
            SELECT series, s, UNNEST(range(len(s))) AS k FROM ser)
        SELECT series,
               s[k + 1].day AS day,
               s[k + 1].v AS day_value,
               CASE WHEN k = 0 THEN s[1].v
                    ELSE list_reduce(
                        list_prepend(s[1].v,
                                     list_transform(s[2:k + 1], e -> e.v)),
                        (acc, x) -> acc * 0.7 + x * 0.3)
               END AS ewma
        FROM pos
    """,
    "t7_gap_fill": """
        WITH daily AS (
            SELECT user_id % 20 AS series, CAST(ts AS DATE) AS day,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS day_value
            FROM events
            WHERE event_type = 'purchase' AND value > 120
            GROUP BY 1, 2),
        span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
        days AS (
            SELECT CAST(UNNEST(generate_series(CAST(lo AS TIMESTAMP),
                                               CAST(hi AS TIMESTAMP),
                                               INTERVAL 1 DAY)) AS DATE) AS day
            FROM span),
        spine AS (
            SELECT k.series, d.day
            FROM (SELECT DISTINCT series FROM daily) k CROSS JOIN days d)
        SELECT s.series, s.day,
               CAST(COALESCE(dl.n_events, 0) AS BIGINT) AS n_events,
               dl.day_value,
               LAST_VALUE(dl.day_value IGNORE NULLS) OVER (
                   PARTITION BY s.series ORDER BY s.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS filled_value
        FROM spine s LEFT JOIN daily dl USING (series, day)
    """,
    "t6_ohlc_downsample": """
        SELECT user_id,
               time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
                   AS bucket_start,
               (MIN(struct_pack(ts := ts, eid := event_id, v := value))).v
                   AS open_val,
               MAX(value) AS high_val,
               MIN(value) AS low_val,
               (MAX(struct_pack(ts := ts, eid := event_id, v := value))).v
                   AS close_val,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS volume
        FROM events
        GROUP BY 1, 2
    """,
    "t1_asof_purchase_click": """
        WITH purchases AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                   event_id AS purchase_id
            FROM events WHERE event_type = 'purchase'),
        clicks AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts,
                   event_id AS click_id
            FROM events WHERE event_type = 'click')
        SELECT p.user_id, p.ts, p.purchase_id, c.click_id, c.click_ts
        FROM purchases p
        ASOF LEFT JOIN clicks c
          ON p.user_id = c.user_id AND p.ts >= c.click_ts
    """,
    "t2_session_stats": """
        WITH ordered AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                   epoch_us(CAST(ts AS TIMESTAMP))
                   - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                        PARTITION BY user_id ORDER BY ts) AS gap_us
            FROM events),
        flagged AS (
            SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 30 * 60 * 1000000
                           THEN 1 ELSE 0 END AS is_new
            FROM ordered),
        sessions AS (
            SELECT *, CAST(SUM(is_new) OVER (
                PARTITION BY user_id ORDER BY ts
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM flagged)
        SELECT user_id, session_id,
               MIN(ts) AS session_start,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value,
               MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us
        FROM sessions GROUP BY 1, 2
    """,
    "t3_top_terms": """
        WITH toks AS (
            SELECT UNNEST(string_split(trim(text), ' ')) AS token
            FROM documents),
        counts AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token),
        ranked AS (
            SELECT token, n,
                   CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS rnk
            FROM counts)
        SELECT token, n, rnk FROM ranked WHERE rnk <= 20
    """,
    "t4_session_window": """
        WITH ordered AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                   epoch_us(CAST(ts AS TIMESTAMP))
                   - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                        PARTITION BY user_id ORDER BY ts) AS gap_us
            FROM events),
        flagged AS (
            SELECT *, CASE WHEN gap_us IS NULL OR gap_us >= 30 * 60 * 1000000
                           THEN 1 ELSE 0 END AS is_new
            FROM ordered),
        sessions AS (
            SELECT *, SUM(is_new) OVER (
                PARTITION BY user_id ORDER BY ts
                ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged)
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events
        FROM sessions GROUP BY user_id, sid
    """,
    "t5_range_join": """
        WITH purchases AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                   event_id AS purchase_id
            FROM events WHERE event_type = 'purchase'),
        clicks AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts,
                   event_id AS click_id
            FROM events WHERE event_type = 'click')
        SELECT p.purchase_id,
               COUNT(*) AS n_clicks_30m,
               MIN(c.click_id) AS first_click_id
        FROM purchases p JOIN clicks c
          ON p.user_id = c.user_id
         AND c.click_ts <= p.ts
         AND c.click_ts >= p.ts - INTERVAL 30 MINUTE
        GROUP BY p.purchase_id
    """,
    "p15_case_transform": """
        SELECT c_custkey,
               UPPER(c_name) AS name_upper,
               LOWER(c_mktsegment) AS segment_lower
        FROM customer
    """,
    "t11_interval_join_batch": """
        WITH purchases AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                   event_id AS purchase_id
            FROM events WHERE event_type = 'purchase'),
        clicks AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts,
                   event_id AS click_id
            FROM events WHERE event_type = 'click')
        SELECT p.purchase_id,
               COUNT(*) AS n_clicks_30m,
               MIN(c.click_id) AS first_click_id
        FROM purchases p JOIN clicks c
          ON p.user_id = c.user_id
         AND c.click_ts <= p.ts
         AND c.click_ts >= p.ts - INTERVAL 30 MINUTE
        GROUP BY p.purchase_id
    """,
}


# t15_backtest: t10's recursive replay nested as a CTE, plus the
# one-step-ahead error rollup — derived from the same string so the
# fold can never drift between the two oracles.
ORACLES["t15_backtest"] = (
    "WITH h AS (" + ORACLES["t10_holt"] + """)
        SELECT series, COUNT(*) AS n_days,
               CAST(SUM(CAST(ROUND(abs(day_value - prev_fc) / day_value, 9)
                             AS DECIMAL(38,9))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS mape
        FROM (SELECT series, day, day_value,
                     LAG(forecast) OVER (PARTITION BY series
                                         ORDER BY day) AS prev_fc
              FROM h)
        WHERE prev_fc IS NOT NULL
        GROUP BY 1
    """
)


# t16_cusum_drain: t14's recursive replay with only the LAST recursion
# row kept per series — derived from the same string so the fold can
# never drift between the per-day and drained-final oracles.
ORACLES["t16_cusum_drain"] = ORACLES["t14_cusum"].rsplit(
    "SELECT f.series", 1
)[0] + """SELECT f.series,
               CAST(f.k + 1 AS BIGINT) AS n_seen,
               f.cs AS cusum,
               f.cs > 0.5 * mu AS alarm
        FROM f JOIN ser USING (series) JOIN mu USING (series)
        WHERE f.k = len(s) - 1
    """


# t17_rolling_quantiles audit: exact trailing-window row counts
# hash-checked; rank_ok asserts the merged digest's window rank error.
ORACLES["t17_rolling_quantiles"] = """
    WITH spine AS (
        SELECT DISTINCT event_type, CAST(ts AS DATE) AS wday FROM events)
    SELECT s.event_type, s.wday, q,
           COUNT(*) AS n_rows, TRUE AS rank_ok
    FROM spine s
    JOIN events e
      ON e.event_type = s.event_type
     AND CAST(e.ts AS DATE) BETWEEN s.wday - 6 AND s.wday
    CROSS JOIN (SELECT UNNEST([0.5, 0.95, 0.99]::DOUBLE[]) AS q) qs
    GROUP BY 1, 2, 3
"""


ORACLES["t18_acf"] = """
    WITH daily AS (
        SELECT event_type AS series, CAST(ts AS DATE) AS day,
               COUNT(*) AS x
        FROM events GROUP BY 1, 2),
    idx AS (
        SELECT series, CAST(x AS BIGINT) AS x,
               CAST(ROW_NUMBER() OVER (PARTITION BY series ORDER BY day)
                    AS BIGINT) AS i
        FROM daily),
    stats AS (
        SELECT series, CAST(SUM(x) AS BIGINT) AS S, COUNT(*) AS n
        FROM idx GROUP BY 1),
    c AS (
        SELECT i.series, i.i, s.n * i.x - s.S AS c
        FROM idx i JOIN stats s USING (series)),
    den AS (
        SELECT series, CAST(SUM(c * c) AS BIGINT) AS den
        FROM c GROUP BY 1),
    num AS (
        SELECT a.series, u.lag,
               CAST(SUM(a.c * b.c) AS BIGINT) AS num,
               COUNT(*) AS n_pairs
        FROM c a
        CROSS JOIN (SELECT UNNEST(range(1, 7)) AS lag) u
        JOIN c b ON b.series = a.series AND b.i = a.i - u.lag
        GROUP BY 1, 2)
    SELECT n.series, n.lag, n.n_pairs,
           CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE) AS acf
    FROM num n JOIN den d USING (series)
    WHERE d.den > 0
"""

ORACLES["t19_xcorr"] = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
        FROM events GROUP BY 1, 2),
    j AS (
        SELECT a.day, CAST(a.x AS BIGINT) AS va, CAST(b.x AS BIGINT) AS vb
        FROM daily a JOIN daily b ON a.day = b.day
        WHERE a.event_type = 'purchase' AND b.event_type = 'view'),
    idx AS (
        SELECT va, vb,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
        FROM j),
    stats AS (
        SELECT CAST(SUM(va) AS BIGINT) AS Sa,
               CAST(SUM(vb) AS BIGINT) AS Sb, COUNT(*) AS n
        FROM idx),
    c AS (
        SELECT i, s.n * va - s.Sa AS ca, s.n * vb - s.Sb AS cb
        FROM idx CROSS JOIN stats s),
    den AS (
        SELECT CAST(SUM(ca * ca) AS BIGINT) AS da,
               CAST(SUM(cb * cb) AS BIGINT) AS db
        FROM c),
    num AS (
        SELECT u.lag, CAST(SUM(p.ca * q.cb) AS BIGINT) AS num,
               COUNT(*) AS n_pairs
        FROM c p
        CROSS JOIN (SELECT UNNEST(range(-3, 4)) AS lag) u
        JOIN c q ON q.i = p.i - u.lag
        GROUP BY 1)
    SELECT n.lag, n.n_pairs,
           CAST(n.num AS DOUBLE)
           / sqrt(CAST(d.da AS DOUBLE) * CAST(d.db AS DOUBLE)) AS xcorr
    FROM num n CROSS JOIN den d
    WHERE d.da > 0 AND d.db > 0
"""

def q_t20_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the daily event-count
    series per event type (operators/timeseries.py:
    seasonal_decompose_daily) — centered 7-day moving-average trend,
    day-of-week seasonal means over the gap-filled span, exact
    integer numerators with one division per component."""
    from ..operators.timeseries import seasonal_decompose_daily

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("series"),
        F.col("ts").cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).alias("x"))
    return seasonal_decompose_daily(daily)


ORACLES_T20 = """
    WITH daily AS (
        SELECT event_type AS series, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
    span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
    days AS (
        SELECT CAST(UNNEST(generate_series(CAST(lo AS TIMESTAMP),
                                           CAST(hi AS TIMESTAMP),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM span),
    spine AS (
        SELECT k.series, d.day
        FROM (SELECT DISTINCT series FROM daily) k CROSS JOIN days d),
    gapless AS (
        SELECT s.series, s.day,
               CAST(COALESCE(dl.y, 0) AS BIGINT) AS y,
               CAST(date_diff('day', DATE '1970-01-05', s.day) % 7
                    AS BIGINT) AS dow
        FROM spine s LEFT JOIN daily dl USING (series, day)),
    win AS (
        SELECT series, day, dow, y,
               CAST(SUM(y) OVER w AS BIGINT) AS sum7,
               COUNT(*) OVER w AS cnt7
        FROM gapless
        WINDOW w AS (PARTITION BY series ORDER BY day
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    fullw AS (SELECT * FROM win WHERE cnt7 = 7),
    dowm AS (
        SELECT series, dow,
               CAST(SUM(7 * y - sum7) AS BIGINT) AS s_dow,
               CAST(COUNT(*) AS BIGINT) AS c_dow
        FROM fullw GROUP BY 1, 2)
    SELECT f.series, f.day, f.dow, f.y,
           CAST(f.sum7 AS DOUBLE) / 7.0 AS trend,
           CAST(d.s_dow AS DOUBLE)
           / (7.0 * CAST(d.c_dow AS DOUBLE)) AS seasonal,
           CAST(f.y AS DOUBLE) - CAST(f.sum7 AS DOUBLE) / 7.0
           - CAST(d.s_dow AS DOUBLE)
             / (7.0 * CAST(d.c_dow AS DOUBLE)) AS resid
    FROM fullw f JOIN dowm d USING (series, dow)
"""
ORACLES["t20_seasonal"] = ORACLES_T20


def q_t21_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust revenue-trend slope per customer nation
    (operators/timeseries.py: theil_sen_slope) — median of all
    pairwise monthly-revenue slopes; the pair frame is
    month-spine²-sized per nation (~84 months → 3.5k pairs at any
    SF), never fact-sized. Revenue via exact decimal accumulation
    (dsum), month index as integer (year−1992)·12 + month−1."""
    from ..functions.transforms import dsum
    from ..operators.timeseries import theil_sen_slope

    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    rev = (
        l.join(
            o.select("o_orderkey", "o_custkey", "o_orderdate"),
            l.l_orderkey == o.o_orderkey,
        )
        .join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            (
                (F.year("o_orderdate") - F.lit(1992)) * F.lit(12)
                + F.month("o_orderdate")
                - F.lit(1)
            ).cast("bigint").alias("m"),
        )
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 6
            ).alias("rev")
        )
    )
    return theil_sen_slope(rev, key_col="nation", x_col="m", y_col="rev")


ORACLES["t21_theil_sen"] = """
    WITH rev AS (
        SELECT n.n_name AS nation,
               CAST((year(o.o_orderdate) - 1992) * 12
                    + month(o.o_orderdate) - 1 AS BIGINT) AS m,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE) AS rev
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2),
    pairs AS (
        SELECT a.nation,
               (b.rev - a.rev) / CAST(b.m - a.m AS DOUBLE) AS slope
        FROM rev a JOIN rev b ON a.nation = b.nation AND b.m > a.m),
    ranked AS (
        SELECT nation, slope,
               CAST(ROW_NUMBER() OVER (PARTITION BY nation
                                       ORDER BY slope) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY nation) AS BIGINT) AS np
        FROM pairs),
    med AS (
        SELECT nation, np, AVG(slope) AS ts_slope
        FROM ranked
        WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
        GROUP BY 1, 2),
    npts AS (
        SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_points
        FROM rev GROUP BY 1)
    SELECT m.nation, p.n_points, m.np AS n_pairs, m.ts_slope
    FROM med m JOIN npts p USING (nation)
"""

def q_t22_rolling_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling weekly drift panel (operators/quality.rolling_drift,
    round 13): per (event_type, week), KS + W1 + PSI of that week's
    integer-floored event values against the trailing 4-week
    reference — the monitoring-dashboard series view of the
    point-in-time drift family. Cold-start weeks (empty reference)
    report NULL stats with drift_defined false. One fact-scan agg;
    everything downstream is count-spine-sized."""
    from ..operators.quality import rolling_drift

    ev = t(spark, sf_dir, "events")
    return rolling_drift(
        ev.withColumn("value", F.floor("value")), "value"
    )


ORACLES["t22_rolling_drift"] = """
    WITH counts AS (
        SELECT event_type,
               CAST(date_trunc('week', ts) AS DATE) AS week,
               CAST(FLOOR(value) AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events
        WHERE value IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1, 2, 3),
    weeks AS (SELECT DISTINCT event_type, week AS w FROM counts),
    hull AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM counts),
    ref AS (
        SELECT c.event_type, c.week + CAST(k * 7 AS INTEGER) AS w, c.v,
               CAST(SUM(c.cnt) AS BIGINT) AS ref
        FROM counts c, UNNEST(range(1, 5)) AS u(k)
        GROUP BY 1, 2, 3),
    cur AS (SELECT event_type, week AS w, v, cnt AS cur FROM counts),
    cells AS (
        SELECT COALESCE(cu.event_type, r.event_type) AS event_type,
               COALESCE(cu.w, r.w) AS w, COALESCE(cu.v, r.v) AS v,
               CAST(COALESCE(cu.cur, 0) AS BIGINT) AS cur,
               CAST(COALESCE(r.ref, 0) AS BIGINT) AS ref
        FROM cur cu FULL OUTER JOIN ref r
          ON cu.event_type = r.event_type AND cu.w = r.w
             AND cu.v = r.v),
    cellsw AS (
        SELECT c.* FROM cells c
        WHERE EXISTS (SELECT 1 FROM weeks wk
                      WHERE wk.event_type = c.event_type
                        AND wk.w = c.w)),
    cums AS (
        SELECT event_type, w, v, cur, ref,
               SUM(cur) OVER win AS cum_cur,
               SUM(ref) OVER win AS cum_ref,
               SUM(cur) OVER tot AS n_cur,
               SUM(ref) OVER tot AS n_ref,
               LEAD(v) OVER win - v AS dv
        FROM cellsw
        WINDOW win AS (PARTITION BY event_type, w ORDER BY v),
               tot AS (PARTITION BY event_type, w)),
    ksw1 AS (
        SELECT event_type, w,
               CAST(n_cur AS BIGINT) AS n_cur,
               CAST(n_ref AS BIGINT) AS n_ref,
               MAX(ABS(cum_cur * n_ref - cum_ref * n_cur)) AS ks_int,
               SUM(ABS(cum_cur * n_ref - cum_ref * n_cur)
                   * COALESCE(dv, 0)) AS w1_int
        FROM cums GROUP BY 1, 2, 3, 4),
    bsums AS (
        SELECT event_type, w,
               LEAST(9, ((v - lo) * 10) // (hi - lo + 1)) AS bucket,
               SUM(cur) AS bc, SUM(ref) AS br
        FROM cellsw CROSS JOIN hull GROUP BY 1, 2, 3),
    bspine AS (
        SELECT event_type, w, b AS bucket
        FROM weeks, UNNEST(range(0, 10)) AS u(b)),
    bcells AS (
        SELECT s.event_type, s.w, s.bucket,
               CAST(COALESCE(bc, 0) AS BIGINT) AS bc,
               CAST(COALESCE(br, 0) AS BIGINT) AS br
        FROM bspine s LEFT JOIN bsums b
        USING (event_type, w, bucket)),
    btot AS (
        SELECT event_type, w,
               CAST(SUM(bc) AS BIGINT) AS tc,
               CAST(SUM(br) AS BIGINT) AS tr
        FROM bcells GROUP BY 1, 2),
    psi AS (
        SELECT b.event_type, b.w,
               CAST(SUM(CAST(ROUND(
                   (CAST(bc + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE)
                    - CAST(br + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE))
                   * ln((CAST(bc + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE))
                        / (CAST(br + 1 AS DOUBLE)
                           / CAST(tr + 10 AS DOUBLE))), 12)
                   AS DECIMAL(28,12))) AS DOUBLE) AS psi
        FROM bcells b JOIN btot USING (event_type, w)
        GROUP BY 1, 2)
    SELECT k.event_type, k.w AS week_start, k.n_cur, k.n_ref,
           CASE WHEN k.n_cur > 0 AND k.n_ref > 0
                THEN CAST(ks_int AS DOUBLE)
                     / (CAST(k.n_cur AS DOUBLE) * CAST(k.n_ref AS DOUBLE))
           END AS ks_stat,
           CASE WHEN k.n_cur > 0 AND k.n_ref > 0
                THEN CAST(w1_int AS DOUBLE)
                     / (CAST(k.n_cur AS DOUBLE) * CAST(k.n_ref AS DOUBLE))
           END AS w1_dist,
           CASE WHEN k.n_cur > 0 AND k.n_ref > 0 THEN p.psi END AS psi,
           (k.n_cur > 0 AND k.n_ref > 0) AS drift_defined
    FROM ksw1 k JOIN psi p
      ON p.event_type = k.event_type AND p.w = k.w
"""


def q_t24_drift_dashboard_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-ACCUMULATED drift dashboard drained to the gate
    (jobs.refresh_drift_dashboard, round 14): replay the refresh
    over three deterministic event slices — append each
    slice to the silver store, republish the gold numeric panel as the
    next generation behind its link — then return the FINAL published
    drift_panel. The accumulated silver must reconstruct the corpus
    losslessly (parquet roundtrip, NULL values included) and the
    generation flip must publish a readable current table, so the
    drained panel equals the one-shot t22 computation — the oracle IS t22's SQL verbatim (the
    x_mlt_drain convention)."""
    import shutil
    import tempfile

    from ..jobs import refresh_drift_dashboard

    ev = t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="spark_graft_dash_drain_")
    try:
        silver = f"{tmp}/events_silver"
        # coalesce routes NULL event_ids into slice 0, so the three
        # slices always PARTITION the corpus (a bare pmod would drop
        # NULL-id rows from every slice and diverge from the t22
        # oracle if the fixture ever gained NULL ids).
        for s in range(3):
            ev.filter(
                F.coalesce(F.pmod(F.col("event_id"), F.lit(3)), F.lit(0)) == s
            ).write.mode("append").parquet(silver)
            panels = refresh_drift_dashboard(
                spark, spark.read.parquet(silver), tmp
            )
        out = panels["drift_panel"].localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def q_t25_drift_dashboard_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL drift dashboard drained to the gate (streaming.
    pipeline.drift_dashboard_batch, round 15 — the r14 verdict's
    task 2): replay the incremental foreachBatch sink's exact body
    over three deterministic event slices — each slice lands its own
    ``__batch_id`` silver partition, folds its counts into the
    ``panel_state`` spine stores, and the refresh recomputes ONLY the
    touched weeks plus their forward reference horizon (falling back
    to the spine-wide recompute when the slice extends the global PSI
    hull), upserting into the published generation. The accumulated
    spine must reconstruct the corpus counts losslessly and the
    upsert must stitch touched and carried weeks seamlessly, so the
    FINAL published drift_panel equals the one-shot t22 computation —
    the oracle IS t22's SQL verbatim (the t24/x_mlt_drain
    convention). Same NULL-id routing as t24: coalesce sends NULL
    event_ids to slice 0 so the slices always partition the corpus."""
    import shutil
    import tempfile

    from ..streaming.pipeline import drift_dashboard_batch

    ev = t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="spark_graft_dash_incr_")
    try:
        for s in range(3):
            panels = drift_dashboard_batch(
                spark,
                ev.filter(
                    F.coalesce(F.pmod(F.col("event_id"), F.lit(3)), F.lit(0))
                    == s
                ),
                s,
                tmp,
            )
        out = panels["drift_panel"].localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def q_t23_rolling_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling weekly categorical drift (operators/quality.
    rolling_chi2, round 13): per week, chi-square of the event-type
    mix against the trailing 4-week reference — the "did the traffic
    mix shift" companion of t22's numeric panel. Collapsed two-sample
    integer form, decimal-squared residuals, one division; weeks with
    an empty reference keep their row (drift_defined false)."""
    from ..operators.quality import rolling_chi2

    return rolling_chi2(t(spark, sf_dir, "events"))


# t24: the drained dashboard's final drift_panel must equal the
# one-shot rolling panel — the oracle is t22's SQL verbatim.
# Registered after the t22 entry exists (defined above).
ORACLES["t24_drift_dashboard_drain"] = ORACLES["t22_rolling_drift"]
# t25: the INCREMENTALLY-refreshed dashboard's final drift_panel must
# also equal the one-shot rolling panel — same oracle, different sink.
ORACLES["t25_drift_dashboard_incr"] = ORACLES["t22_rolling_drift"]

ORACLES["t23_rolling_chi2"] = """
    WITH counts AS (
        SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
               event_type AS c, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events
        WHERE event_type IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1, 2),
    weeks AS (SELECT DISTINCT week AS w FROM counts),
    ref AS (
        SELECT c2.week + CAST(k * 7 AS INTEGER) AS w, c2.c,
               CAST(SUM(c2.cnt) AS BIGINT) AS ref
        FROM counts c2, UNNEST(range(1, 5)) AS u(k)
        GROUP BY 1, 2),
    cur AS (SELECT week AS w, c, cnt AS cur FROM counts),
    cells AS (
        SELECT COALESCE(cu.w, r.w) AS w, COALESCE(cu.c, r.c) AS c,
               CAST(COALESCE(cu.cur, 0) AS BIGINT) AS cg,
               CAST(COALESCE(r.ref, 0) AS BIGINT) AS ch
        FROM cur cu FULL OUTER JOIN ref r
          ON cu.w = r.w AND cu.c = r.c),
    cellsw AS (
        SELECT c.* FROM cells c
        WHERE EXISTS (SELECT 1 FROM weeks wk WHERE wk.w = c.w)),
    tot AS (
        SELECT w, CAST(SUM(cg) AS BIGINT) AS n_cur,
               CAST(SUM(ch) AS BIGINT) AS n_ref,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM cellsw GROUP BY 1),
    agg AS (
        SELECT c.w, t.n_cur, t.n_ref, t.k,
               CAST(SUM(CAST(ROUND(
                   CAST((cg * (n_cur + n_ref) - n_cur * (cg + ch))
                        * (cg * (n_cur + n_ref) - n_cur * (cg + ch))
                        AS DOUBLE)
                   / CAST(cg + ch AS DOUBLE), 12)
                   AS DECIMAL(38,12))) AS DOUBLE) AS s
        FROM cellsw c JOIN tot t USING (w)
        GROUP BY 1, 2, 3, 4)
    SELECT w AS week_start, n_cur, n_ref,
           CASE WHEN n_cur > 0 AND n_ref > 0 THEN k - 1 END AS df_chi2,
           CASE WHEN n_cur > 0 AND n_ref > 0
                THEN s / (CAST(n_cur AS DOUBLE) * CAST(n_ref AS DOUBLE))
           END AS chi2,
           COALESCE(CASE WHEN n_cur > 0 AND n_ref > 0
                THEN s / (CAST(n_cur AS DOUBLE) * CAST(n_ref AS DOUBLE))
                     > CAST(k - 1 AS DOUBLE)
                       * pow(1.0 - 2.0/(9.0 * GREATEST(CAST(k - 1 AS DOUBLE), 1.0))
                             + 1.6448536269514722
                               * sqrt(2.0/(9.0 * GREATEST(CAST(k - 1 AS DOUBLE), 1.0))), 3)
           END, FALSE) AS reject_95,
           (n_cur > 0 AND n_ref > 0) AS drift_defined
    FROM agg
"""


QUERIES = {
    "t22_rolling_drift": q_t22_rolling_drift,
    "t23_rolling_chi2": q_t23_rolling_chi2,
    "t24_drift_dashboard_drain": q_t24_drift_dashboard_drain,
    "t25_drift_dashboard_incr": q_t25_drift_dashboard_incr,
    "t18_acf": q_t18_acf,
    "t19_xcorr": q_t19_xcorr,
    "t20_seasonal": q_t20_seasonal,
    "t21_theil_sen": q_t21_theil_sen,
    "t16_cusum_drain": q_t16_cusum_drain,
    "t17_rolling_quantiles": q_t17_rolling_quantiles,
    "t14_cusum": q_t14_cusum,
    "t15_backtest": q_t15_backtest,
    "t1_asof_purchase_click": q_t1_asof_purchase_click,
    "t2_session_stats": q_t2_session_stats,
    "t3_top_terms": q_t3_top_terms,
    "t4_session_window": q_t4_session_window,
    "t5_range_join": q_t5_range_join,
    "t6_ohlc_downsample": q_t6_ohlc_downsample,
    "t7_gap_fill": q_t7_gap_fill,
    "t8_ewma": q_t8_ewma,
    "t9_anomaly_mad": q_t9_anomaly_mad,
    "t10_holt": q_t10_holt,
    "t11_interval_join_batch": q_t11_interval_join_batch,
    "t12_holt_winters": q_t12_holt_winters,
    "t13_twap": q_t13_twap,
    "p15_case_transform": q_p15_case_transform,
}

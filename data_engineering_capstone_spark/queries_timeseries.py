"""Time-series catalog queries over ``events`` (hypertable-style
bucket / gap-fill / rollup family; SURVEY.md §2 extension surface).

All measures are summed as DECIMAL and cast to double only at the
output boundary — float sums are order-dependent across partitionings,
decimal sums are exact in both engines (SCALE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import query
from .operators.timeseries import dense_grid, forward_fill, sessionize, time_bucket
from .sources.testdata import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


@query(
    "ts_gapfill_ffill",
    oracle="""
    WITH ev AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket_ts, value
      FROM events
      WHERE user_id < 10 AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
    ), b AS (
      SELECT user_id, bucket_ts,
             COUNT(*) AS n_events,
             SUM(CAST(value AS DECIMAL(12,2))) AS s
      FROM ev GROUP BY 1, 2
    ), grid AS (
      SELECT u.user_id, g.ts AS bucket_ts
      FROM (SELECT DISTINCT user_id FROM ev) u,
           (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                          TIMESTAMP '2024-01-07 23:00:00',
                                          INTERVAL 1 HOUR)) AS ts) g
    )
    SELECT g.user_id, g.bucket_ts,
           CAST(COALESCE(b.n_events, 0) AS BIGINT) AS n_events,
           CAST(b.s AS DOUBLE) AS bucket_sum,
           CAST(last_value(b.s IGNORE NULLS) OVER (
                  PARTITION BY g.user_id ORDER BY g.bucket_ts
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS filled_sum
    FROM grid g LEFT JOIN b USING (user_id, bucket_ts)
    ORDER BY user_id, bucket_ts
    """,
)
def ts_gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly gap-filled per-user series with forward fill: bucket
    aggregate → dense (user × hour) grid → left join → carry the last
    observed sum through empty buckets (operators/timeseries.py). The
    grid is built from one exploded hour sequence × the user dimension
    (intentional tiny cross join); the fill is one window per user —
    partition-local, parallel across users. Decimal sums keep the
    filled values engine-exact.
    """
    ev = _events(spark, sf_dir).filter(
        (F.col("user_id") < 10)
        & (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-08").cast("timestamp"))
    )
    b = ev.groupBy(
        "user_id", time_bucket("ts", "1 hour").alias("bucket_ts")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("s"),
    )
    grid = dense_grid(
        ev.select("user_id").distinct(),
        spark,
        "2024-01-01",
        "2024-01-08",
        "1 HOUR",
    )
    joined = grid.join(b, ["user_id", "bucket_ts"], "left")
    filled = forward_fill(joined, "user_id", "bucket_ts", ["s"])
    return (
        filled.select(
            "user_id",
            "bucket_ts",
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
            F.col("s").cast("double").alias("bucket_sum"),
            F.col("s_ffill").cast("double").alias("filled_sum"),
        )
        # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)
    )


@query(
    "ts_hierarchical_rollup",
    oracle="""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS day_ts,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def ts_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup reaggregation: the daily rollup is computed
    FROM the hourly rollup's partials (sum of sums, sum of counts), not
    from raw events — the continuous-aggregate cascade where each
    coarser level touches rows proportional to the finer rollup. The
    oracle aggregates raw events directly, pinning the equivalence the
    cascade must preserve.
    """
    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type", time_bucket("ts", "1 hour").alias("hour_ts")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_value"),
    )
    daily = (
        hourly.groupBy(
            # cast to DATE: Spark date_trunc returns TIMESTAMP while DuckDB's
            # day-grain date_trunc returns DATE — align the hashed type class
            "event_type",
            F.date_trunc("day", "hour_ts").cast("date").alias("day_ts"),
        )
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("sum_value").cast("double").alias("sum_value"),
        )
    )
    return daily.orderBy("event_type", "day_ts")


@query(
    "ts_sessionize_batch",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, event_id, value FROM events WHERE user_id < 50
    ), flag AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flag
    )
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM sess GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def ts_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based batch sessionization (operators/timeseries.sessionize):
    a 30-minute inactivity gap closes a session; sessions are numbered
    per user by a lag-flag + running sum over one (user, ts) sort, then
    aggregated to per-session rows. The whole operator is a single
    shuffle on user_id; the session aggregation reuses the same
    partitioning. Batch twin of ``stream_session_windows``.
    """
    ev = _events(spark, sf_dir).filter(F.col("user_id") < 50)
    s = sessionize(ev, "user_id", "ts", 30 * 60, order_cols=["event_id"])
    return (
        s.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
        # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)
    )


@query(
    "ts_ohlc_bars",
    oracle="""
    SELECT event_type,
           date_trunc('hour', ts) AS bar_ts,
           first(value ORDER BY ts, event_id) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           last(value ORDER BY ts, event_id) AS close,
           CAST(COUNT(*) AS BIGINT) AS volume
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-03'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar aggregation: open/close are order-dependent aggregates —
    ``min_by``/``max_by`` on a (ts, event_id) struct picks the earliest/
    latest event per bar without any window sort, so the whole query is
    one hash aggregate (partial + final, no shuffle beyond the group-by).
    The event_id tiebreak makes equal-timestamp bars deterministic.
    """
    ev = _events(spark, sf_dir).filter(
        (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-03").cast("timestamp"))
    )
    key = F.struct("ts", "event_id")
    return (
        ev.groupBy("event_type", time_bucket("ts", "1 hour").alias("bar_ts"))
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
        .orderBy("event_type", "bar_ts")
    )


@query(
    "ts_weighted_moving_avg",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, event_id, value FROM events WHERE user_id < 10
    ), lagged AS (
      SELECT user_id, ts, value,
             lag(value, 1) OVER w AS v1,
             lag(value, 2) OVER w AS v2,
             lag(value, 3) OVER w AS v3
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, ts, value,
           (4 * value + COALESCE(3 * v1, 0) + COALESCE(2 * v2, 0)
              + COALESCE(v3, 0))
             / (4 + CASE WHEN v1 IS NULL THEN 0 ELSE 3 END
                  + CASE WHEN v2 IS NULL THEN 0 ELSE 2 END
                  + CASE WHEN v3 IS NULL THEN 0 ELSE 1 END) AS wma
    FROM lagged ORDER BY user_id, ts
    """,
)
def ts_weighted_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linearly-weighted moving average over the last 4 events per user,
    expressed as three lags over ONE shared window sort (no per-row list
    materialization — the frame is unrolled into lag columns, which stays
    inside whole-stage codegen). Partial windows renormalize the weight
    sum so the first rows of each series are well-defined. Arithmetic is
    identical double expressions on both sides — deterministic IEEE ops
    on identical inputs.
    """
    ev = _events(spark, sf_dir).filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v1, v2, v3 = (F.lag("value", i).over(w) for i in (1, 2, 3))
    num = (
        F.lit(4) * F.col("value")
        + F.coalesce(F.lit(3) * v1, F.lit(0.0))
        + F.coalesce(F.lit(2) * v2, F.lit(0.0))
        + F.coalesce(v3, F.lit(0.0))
    )
    den = (
        F.lit(4)
        + F.when(v1.isNull(), F.lit(0)).otherwise(F.lit(3))
        + F.when(v2.isNull(), F.lit(0)).otherwise(F.lit(2))
        + F.when(v3.isNull(), F.lit(0)).otherwise(F.lit(1))
    )
    return (
        ev.select("user_id", "ts", "value", (num / den).alias("wma"))
        # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)
    )


@query(
    "ts_rolling_active_users",
    oracle="""
    WITH days AS (
      SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                    INTERVAL 1 DAY))::DATE AS day
    )
    SELECT d.day,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users_7d,
           CAST(COUNT(*) AS BIGINT) AS events_7d
    FROM days d
    JOIN events e
      ON CAST(e.ts AS DATE) BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day ORDER BY d.day
    """,
)
def ts_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day — the windowed COUNT(DISTINCT)
    that plain window frames can't express. Exact form: a day-grid range
    join (each event lands in <= 7 day buckets) then distinct-count per
    day. The join explodes events x7, which is fine when the window/step
    ratio is small; at 100 TB with wide windows, switch to per-day HLL
    sketches merged over the window (approx_count_distinct partials) —
    same plan shape, sketch-sized state.
    """
    ev = _events(spark, sf_dir).select(
        F.col("ts").cast("date").alias("eday"), "user_id"
    )
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-30").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    joined = ev.join(
        F.broadcast(days),
        (F.col("eday") >= F.date_sub(F.col("day"), 6))
        & (F.col("eday") <= F.col("day")),
    )
    return (
        joined.groupBy("day")
        .agg(
            F.countDistinct("user_id").alias("active_users_7d"),
            F.count(F.lit(1)).alias("events_7d"),
        )
        .orderBy("day")
    )


@query(
    "ts_rolling_anomaly",
    oracle="""
    WITH w AS (
      SELECT user_id, ts, event_id, value,
             CAST(SUM(CAST(value AS DECIMAL(14,2))) OVER fr AS DOUBLE) AS s,
             CAST(SUM(CAST(value AS DECIMAL(14,2))
                      * CAST(value AS DECIMAL(14,2))) OVER fr AS DOUBLE) AS s2,
             CAST(COUNT(*) OVER fr AS BIGINT) AS n
      FROM events
      WHERE user_id < 20
      WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, ts, value,
           (value - s / n) / sqrt(s2 / n - (s / n) * (s / n)) AS z
    FROM w
    WHERE n >= 4
      AND s2 / n - (s / n) * (s / n) > 0
      AND abs((value - s / n) / sqrt(s2 / n - (s / n) * (s / n))) > 2
    ORDER BY user_id, ts
    """,
)
def ts_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window anomaly detection: each event scored against the
    trailing 7 events' mean/std (frame excludes the current row — no
    self-contamination). Moments come from exact DECIMAL window sums, so
    the double arithmetic is identical on both engines; rows with fewer
    than 4 trailing points or zero variance are unscored. One window
    sort per user partition, flagged rows only at the boundary.
    """
    ev = _events(spark, sf_dir).filter(F.col("user_id") < 20)
    fr = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-7, -1)
    )
    dec = F.col("value").cast("decimal(14,2)")
    w = ev.select(
        "user_id",
        "ts",
        "value",
        F.sum(dec).over(fr).cast("double").alias("s"),
        F.sum(dec * dec).over(fr).cast("double").alias("s2"),
        F.count(F.lit(1)).over(fr).alias("n"),
    )
    mean = F.col("s") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    z = (F.col("value") - mean) / F.sqrt(var)
    return (
        w.filter((F.col("n") >= 4) & (var > 0) & (F.abs(z) > 2))
        .select("user_id", "ts", "value", z.alias("z"))
        # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)
    )


@query("ts_rolling_active_users_hll", oracle=None)
def ts_rolling_active_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-partial form of ts_rolling_active_users: per-day HLL
    sketches merged over the trailing 7 days (operators/sketches.py).
    Raw events are aggregated ONCE; the window join runs over 30 sketch
    rows. HLL is order-insensitive, so the estimate is deterministic —
    rows-only checked here; tests pin the estimate within 2% of the
    exact count and the merge-equals-whole invariant. This is the form
    that survives 100 TB: per-day state is a few KB regardless of user
    cardinality.
    """
    ev = _events(spark, sf_dir)
    from .operators.sketches import daily_distinct_sketches, rolling_distinct_estimate

    daily = daily_distinct_sketches(ev)
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-30").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d")
    )
    return (
        rolling_distinct_estimate(daily, days, 7)
        .select(
            "day",
            F.col("active_estimate").cast("bigint").alias("active_estimate"),
            "events_7d",
        )
        .orderBy("day")
    )


@query("ts_theta_overlap", oracle=None)
def ts_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap via theta-sketch set algebra
    (operators/sketches.distinct_overlap_estimate): estimated distinct
    clickers, purchasers, and their intersection in one scan — the set
    operation HLL cannot do. Deterministic (k-smallest-hash), so
    rows-only; tests pin the estimates against exact counts.
    """
    from .operators.sketches import distinct_overlap_estimate

    ev = _events(spark, sf_dir)
    return distinct_overlap_estimate(ev, "click", "purchase").select(
        F.col("est_a").cast("bigint").alias("est_clickers"),
        F.col("est_b").cast("bigint").alias("est_purchasers"),
        F.col("est_overlap").cast("bigint").alias("est_both"),
    )


@query(
    "ts_rolling_median",
    oracle="""
    SELECT user_id, ts, value,
           quantile_disc(value, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
    FROM events WHERE user_id < 10
    ORDER BY user_id, ts, event_id
    """,
)
def ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-event median smoothing (robust to outliers where the
    moving average isn't). Spark has no percentile window aggregate, so
    the frame is collected per row, sorted, and indexed at the lower
    median — O(k log k) per row for frame width k, partition-local, one
    sort per user. quantile_disc picks an actual data value, so both
    engines return identical doubles. For wide frames at scale, swap in
    a KLL sketch per frame chunk.
    """
    ev = _events(spark, sf_dir).filter(F.col("user_id") < 10)
    fr = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, 0)
    )
    vals = F.array_sort(F.collect_list("value").over(fr))
    # lower median = element at ceil(n/2), 1-indexed (quantile_disc 0.5)
    med = F.element_at(vals, F.ceil(F.size(vals) / 2).cast("int"))
    return (
        ev.select("user_id", "ts", "value", med.alias("med7"))
        # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)
    )


@query(
    "ts_seasonal_profile",
    oracle="""
    SELECT CAST(isodow(ts) AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality fingerprint: the (day-of-week × hour-of-day) load
    matrix — the profile capacity planning and anomaly baselines key
    off. One hash aggregate over derived calendar keys (168 groups
    regardless of data volume); ISO day numbering matches ANSI engines.
    """
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.dayofweek(F.date_sub(F.col("ts"), 1)).alias("dow_raw"),
            F.hour("ts").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("dow_raw").cast("int").alias("dow"),
            F.col("hod").cast("int").alias("hod"),
            "n_events",
            "sum_value",
        )
        .orderBy("dow", "hod")
    )


@query(
    "ts_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY 1
    ), active AS (
      SELECT DISTINCT e.user_id, CAST(e.ts AS DATE) AS d
      FROM events e
    )
    SELECT CAST(date_trunc('week', f.d0) AS DATE) AS cohort_week,
           CAST(date_diff('day', f.d0, a.d) // 7 AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM active a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def ts_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-seen week, counted
    as active per week offset from their own first day (the triangle
    every growth dashboard draws). First-seen is one min-aggregate;
    activity is a distinct (user, day) projection joined back — shuffles
    carry (user, date) pairs only. Week offsets are integer day
    arithmetic, engine-exact.
    """
    e = _events(spark, sf_dir)
    firsts = e.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("d0"))
    active = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    return (
        active.join(firsts, "user_id")
        .select(
            F.date_trunc("week", F.col("d0")).cast("date").alias("cohort_week"),
            F.floor(F.datediff(F.col("d"), F.col("d0")) / 7).cast("bigint").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


@query("ts_rolling_median_kll", oracle=None)
def ts_rolling_median_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-partial form of ts_rolling_median: per-day KLL quantile
    sketches merged over the trailing 7 days (operators/sketches.py,
    Datasketches KLL built into Spark 4). Raw values aggregate ONCE;
    the window join runs over 30 sketch rows of a few KB each — the
    wide-frame quantile path the exact frame-collected median cannot
    take at 100 TB (its buffer grows with frame width; the sketch
    doesn't). Deterministic for a given input set -> rows-only; tests
    pin the estimate's rank error against the exact rolling median.
    """
    from .operators.sketches import daily_value_kll_sketches, rolling_quantile_estimate

    ev = _events(spark, sf_dir)
    daily = daily_value_kll_sketches(ev)
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-30").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d")
    )
    return (
        rolling_quantile_estimate(daily, days, 7, 0.5)
        .select(
            "day",
            F.round("quantile_estimate", 4).alias("median_estimate"),
            "events_win",
        )
        .orderBy("day")
    )


@query(
    "ts_autocorrelation",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ), lags AS (
      SELECT unnest(generate_series(1, 7)) AS lag
    ), pairs AS (
      SELECT l.lag, a.n AS x, b.n AS y
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.d = a.d + CAST(l.lag AS INT)
    ), sums AS (
      SELECT lag, CAST(COUNT(*) AS BIGINT) AS np,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS INT) AS lag, CAST(np AS BIGINT) AS n_pairs,
           ROUND(CAST(np*sxy - sx*sy AS DOUBLE)
                 / (SQRT(CAST(np*sxx - sx*sx AS DOUBLE))
                    * SQRT(CAST(np*syy - sy*sy AS DOUBLE))), 6) AS acf
    FROM sums ORDER BY lag
    """,
)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily event-count series (the
    seasonality/anomaly primitive: a weekly cycle shows as an acf peak
    at lag 7). Pearson r is computed from BIGINT sums (n·Σxy − ΣxΣy
    over exact integer counts) with division/sqrt only at the output
    boundary, so both engines evaluate the identical double expression
    — no float-summation order dependence to round away (the module's
    decimal-sum discipline applied to correlation). Plan: one day
    aggregate, a 7-row lag explode, one equi-join on shifted day, one
    partial-aggregated group — dimension-scale shuffles only.
    """
    ev = _events(spark, sf_dir)
    daily = (
        ev.groupBy(F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # lag expansion via explode, not a crossJoin: each daily row carries
    # its own 7 lag rows, so the plan is one equi-join on shifted day —
    # no Cartesian/nested-loop operator anywhere (explain_audit-clean)
    a = daily.select(
        F.col("d").alias("da"),
        F.col("n").alias("x"),
        F.explode(F.array(*[F.lit(k) for k in range(1, 8)])).alias("lag"),
    )
    b = daily.select(F.col("d").alias("db"), F.col("n").alias("y"))
    pairs = a.join(b, F.col("db") == F.expr("date_add(da, lag)"))
    sums = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt((F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")) * F.sqrt(
        (F.col("np") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return sums.select(
        "lag",
        F.col("np").alias("n_pairs"),
        F.round(num / den, 6).alias("acf"),
    ).orderBy("lag")


@query(
    "ts_downsample_lttb",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), pts AS (
      SELECT CAST(DATE_DIFF('day', DATE '1970-01-01', d) AS INT) AS x, d, y,
             CAST(FLOOR(DATE_DIFF('day', DATE '1970-01-01', d) / 7.0) AS BIGINT) AS bucket
      FROM daily
    ), bs AS (
      SELECT bucket,
             CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mx,
             CAST(SUM(y) AS DOUBLE) / COUNT(*) AS my
      FROM pts GROUP BY 1
    ), anch AS (
      SELECT bucket,
             LAG(mx)  OVER (ORDER BY bucket) AS xp,
             LAG(my)  OVER (ORDER BY bucket) AS yp,
             LEAD(mx) OVER (ORDER BY bucket) AS xn,
             LEAD(my) OVER (ORDER BY bucket) AS yn
      FROM bs
    ), scored AS (
      SELECT p.bucket, p.x, p.d, p.y,
             CASE WHEN a.xp IS NULL THEN -CAST(p.x AS DOUBLE)
                  WHEN a.xn IS NULL THEN CAST(p.x AS DOUBLE)
                  ELSE ROUND(ABS((a.xp - a.xn) * (CAST(p.y AS DOUBLE) - a.yp)
                               - (a.xp - CAST(p.x AS DOUBLE)) * (a.yn - a.yp)), 6)
             END AS score
      FROM pts p JOIN anch a USING (bucket)
    ), sel AS (
      SELECT bucket, x, d, y,
             ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY score DESC, x) AS rk
      FROM scored
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, x, d, y
    FROM sel WHERE rk = 1 ORDER BY bucket
    """,
)
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB-style downsampling of the daily event series: one visually
    representative point per 7-day bucket, chosen by the largest
    triangle area against the NEIGHBOR-BUCKET MEAN anchors (the
    fixed-anchor variant of Steinarsson's largest-triangle-three-buckets
    — classic LTTB anchors on the previously SELECTED point, which is
    inherently sequential; anchoring on bucket means keeps the pick
    embarrassingly parallel per bucket with near-identical selections).
    First/last buckets keep their first/last point, as in LTTB. Plan:
    calendar-bucket assignment is a pure projection (no global row
    numbering), bucket means are one narrow aggregate, lag/lead anchors
    run over the BUCKET SUMMARY (n/7 rows, not points), and the argmax
    is a per-bucket window. Means are computed as exact-integer
    SUM/COUNT then divided, so anchor doubles are bit-identical across
    engines and partitionings; the area score rounds to 6 before
    ranking with an x tie-break.
    """
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    pts = daily.select(
        F.datediff("d", F.lit("1970-01-01").cast("date")).alias("x"),
        "d",
        "y",
        F.floor(
            F.datediff("d", F.lit("1970-01-01").cast("date")) / 7.0
        ).cast("bigint").alias("bucket"),
    )
    bs = pts.groupBy("bucket").agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("mx"),
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("my"),
    )
    w = Window.orderBy("bucket")
    anch = bs.select(
        "bucket",
        F.lag("mx").over(w).alias("xp"),
        F.lag("my").over(w).alias("yp"),
        F.lead("mx").over(w).alias("xn"),
        F.lead("my").over(w).alias("yn"),
    )
    xd = F.col("x").cast("double")
    yd = F.col("y").cast("double")
    area = F.round(
        F.abs(
            (F.col("xp") - F.col("xn")) * (yd - F.col("yp"))
            - (F.col("xp") - xd) * (F.col("yn") - F.col("yp"))
        ),
        6,
    )
    scored = pts.join(F.broadcast(anch), "bucket").select(
        "bucket", "x", "d", "y",
        F.when(F.col("xp").isNull(), -xd)
        .when(F.col("xn").isNull(), xd)
        .otherwise(area)
        .alias("score"),
    )
    ws = Window.partitionBy("bucket").orderBy(F.col("score").desc(), "x")
    return (
        scored.withColumn("rk", F.row_number().over(ws))
        .filter(F.col("rk") == 1)
        .select("bucket", "x", "d", "y")
        .orderBy("bucket")
    )


@query(
    "ts_ewma_trailing",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS DECIMAL(20,6)) AS y
      FROM events GROUP BY 1
    ), lagged AS (
      SELECT d, y,
             LAG(y, 1) OVER (ORDER BY d) AS y1,
             LAG(y, 2) OVER (ORDER BY d) AS y2,
             LAG(y, 3) OVER (ORDER BY d) AS y3,
             LAG(y, 4) OVER (ORDER BY d) AS y4,
             LAG(y, 5) OVER (ORDER BY d) AS y5,
             LAG(y, 6) OVER (ORDER BY d) AS y6
      FROM daily
    )
    SELECT d, CAST(y AS BIGINT) AS y,
           ROUND(CAST(
             y * CAST(1.0 AS DECIMAL(8,6))
             + COALESCE(y1 * CAST(0.5 AS DECIMAL(8,6)), 0)
             + COALESCE(y2 * CAST(0.25 AS DECIMAL(8,6)), 0)
             + COALESCE(y3 * CAST(0.125 AS DECIMAL(8,6)), 0)
             + COALESCE(y4 * CAST(0.0625 AS DECIMAL(8,6)), 0)
             + COALESCE(y5 * CAST(0.03125 AS DECIMAL(8,6)), 0)
             + COALESCE(y6 * CAST(0.015625 AS DECIMAL(8,6)), 0)
           AS DOUBLE) / CAST(
             CAST(1.0 AS DECIMAL(8,6))
             + CASE WHEN y1 IS NULL THEN 0 ELSE CAST(0.5 AS DECIMAL(8,6)) END
             + CASE WHEN y2 IS NULL THEN 0 ELSE CAST(0.25 AS DECIMAL(8,6)) END
             + CASE WHEN y3 IS NULL THEN 0 ELSE CAST(0.125 AS DECIMAL(8,6)) END
             + CASE WHEN y4 IS NULL THEN 0 ELSE CAST(0.0625 AS DECIMAL(8,6)) END
             + CASE WHEN y5 IS NULL THEN 0 ELSE CAST(0.03125 AS DECIMAL(8,6)) END
             + CASE WHEN y6 IS NULL THEN 0 ELSE CAST(0.015625 AS DECIMAL(8,6)) END
           AS DOUBLE), 6) AS ewma
    FROM lagged ORDER BY d
    """,
)
def ts_ewma_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated exponentially-weighted moving average (alpha = 0.5,
    window 7) of the daily event count — the smoothing primitive behind
    load forecasting and anomaly baselines. The classic recursive EWMA
    is inherently sequential; truncating at 7 lags (residual weight
    2^-7 < 1%) turns it into a PARALLEL window expression. Weights are
    exact binary fractions held as DECIMAL, the weighted sum and the
    present-lag normalizer accumulate in DECIMAL (exact, order-free),
    and the single division happens in double on both engines — so the
    result is bit-exact despite being float-valued. The window runs
    over the DAILY AGGREGATE (n/86400 rows), never over raw events.
    """
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("decimal(20,6)").alias("y")
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "d", "y",
        *[F.lag("y", k).over(w).alias(f"y{k}") for k in range(1, 7)],
    )
    wts = [1.0, 0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625]
    dec = lambda v: F.lit(v).cast("decimal(8,6)")  # noqa: E731
    num = F.col("y") * dec(wts[0])
    den = dec(wts[0])
    for k in range(1, 7):
        num = num + F.coalesce(F.col(f"y{k}") * dec(wts[k]), F.lit(0))
        den = den + F.when(F.col(f"y{k}").isNull(), F.lit(0)).otherwise(dec(wts[k]))
    return lagged.select(
        "d",
        F.col("y").cast("bigint").alias("y"),
        F.round(num.cast("double") / den.cast("double"), 6).alias("ewma"),
    ).orderBy("d")


@query(
    "ts_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1
    ), seq AS (
      SELECT d, x,
             ROW_NUMBER() OVER (ORDER BY d) AS t,
             SUM(x) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
             SUM(x) OVER () AS tot,
             COUNT(*) OVER () AS n
      FROM daily
    )
    SELECT d, x,
           CAST(CAST(n AS DECIMAL(38, 0)) * cum - CAST(t AS DECIMAL(38, 0)) * tot
                AS BIGINT) AS cusum_num,
           CAST(CASE WHEN CAST(n AS DECIMAL(38, 0)) * cum
                          - CAST(t AS DECIMAL(38, 0)) * tot > 0 THEN 1
                     WHEN CAST(n AS DECIMAL(38, 0)) * cum
                          - CAST(t AS DECIMAL(38, 0)) * tot < 0 THEN -1
                     ELSE 0 END AS INT) AS side
    FROM seq
    ORDER BY ABS(CAST(n AS DECIMAL(38, 0)) * cum
                 - CAST(t AS DECIMAL(38, 0)) * tot) DESC, d
    LIMIT 5
    """,
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point scan over the daily revenue series: the days
    where the cumulative deviation from the series mean peaks — the
    standard level-shift detector behind pipeline-health monitors
    (CUSUM_t = sum_{i<=t}(x_i - mean); its argmax |.| is the classic
    single-change-point estimate). The float mean is eliminated by
    scaling through by n: D_t = n*cumsum_t - t*total is INTEGER cents
    arithmetic end-to-end — exact, no fp boundary, no rounding. Plan:
    the corpus-scale work is the daily aggregate (one shuffle on day);
    the prefix sums and the whole-frame total run as windows over the
    ~n_days-row daily series (bounded: days, not events — same
    single-partition-over-aggregate shape as ts_ewma_trailing), and
    the result is a bounded top-5 (TakeOrdered, never a global sort).
    """
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    wo = Window.orderBy("d")
    wall = Window.partitionBy()
    seq = daily.select(
        "d", "x",
        F.row_number().over(wo).alias("t"),
        F.sum("x").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("x").over(wall).alias("tot"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    # D_t in DECIMAL(38,0): n*cumsum at extreme scale (1e19+ cents-days)
    # would silently wrap BIGINT in Spark while DuckDB raises — decimal
    # keeps both engines exact and identical far past any daily-revenue
    # magnitude; the output cast to BIGINT is a visible boundary choice.
    dstat = (
        F.col("n").cast("decimal(38,0)") * F.col("cum")
        - F.col("t").cast("decimal(38,0)") * F.col("tot")
    )
    # rank on the DECIMAL dstat, not the bigint output cast: past
    # 2^63 cents-days the cast nulls (non-ANSI) and desc ordering
    # would silently drop the true peaks — the exact failure the
    # decimal intermediate exists to prevent (oracle orders the same
    # decimal expression)
    picked = (
        seq.select("d", "x", dstat.alias("__dstat"))
        .orderBy(F.abs(F.col("__dstat")).desc(), "d")
        .limit(5)
    )
    return picked.select(
        "d", "x",
        F.col("__dstat").cast("bigint").alias("cusum_num"),
        F.when(F.col("__dstat") > 0, 1)
        .when(F.col("__dstat") < 0, -1)
        .otherwise(0)
        .cast("int")
        .alias("side"),
    )

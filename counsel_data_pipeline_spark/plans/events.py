"""Event/time-series analytics over the `events` table.

Batch equivalents of the streaming surface (streaming/ runs the same
windowed aggregations via Structured Streaming; tests assert batch≡stream).
The reference's closest analog is its cron micro-batch (SURVEY §2.10) —
tumbling windows, JSON prop extraction, sessionization are the engine
extensions.

Scale notes: time-bucket aggregations group on (bucket, key) — fully
parallel, map-side partials; sessionization shuffles once on user_id and
sorts within user only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.catalog import register
from counsel_data_pipeline_spark.io.sources import load_table
from counsel_data_pipeline_spark.ops.materialize import pin
from counsel_data_pipeline_spark.plans._parity import dec, dsum, sql_dsum, to_double


@register(
    "events_tumbling_hourly",
    oracle=f"""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
               event_type,
               count(*) AS n_events,
               {sql_dsum('value', 'sum_value', 6)},
               count(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY 1, 2
    """,
    description="tumbling 1-hour event-time window per type (batch twin of streaming agg)",
    tags=("events", "window-time"),
    bench=True,
)
def tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-level aggregate instead of countDistinct: level 1 pre-aggregates
    # per (window, type, user) with map-side combine, so the first shuffle
    # moves one row per user-hour rather than per event; level 2 counts the
    # groups (= exact distinct users) and re-sums the decimal partials
    # (exact, associative). Same results, ~25-50% faster than the planned
    # count-distinct and shuffle volume bounded by user-hours at 100 TB.
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour_start"
        ),
        "event_type",
        "user_id",
    ).agg(F.count(F.lit(1)).alias("__n"), F.sum(dec("value")).alias("__sd"))
    return per_user.groupBy("hour_start", "event_type").agg(
        F.sum("__n").alias("n_events"),
        to_double(F.sum("__sd"), 6).alias("sum_value"),
        # count(user_id), not count(1): the oracle's count(DISTINCT user_id)
        # ignores NULLs, so a NULL-user group must not add to n_users
        F.count(F.col("user_id")).alias("n_users"),
    )


@register(
    "events_sliding_6h_daily",
    oracle=f"""
        -- Epoch-aligned sliding windows, matching Spark's F.window(): an event
        -- at t belongs to the 4 windows whose 6h-aligned start lies in
        -- (t-24h, t]: start = floor(t/6h)*6h - k*6h, k = 0..3.
        WITH k AS (SELECT unnest(range(0, 4)) AS i)
        SELECT strftime(
                 make_timestamp((epoch_us(ts) // 21600000000 - i) * 21600000000),
                 '%Y-%m-%d %H:%M:%S') AS win_start,
               count(*) AS n_events,
               {sql_dsum('value', 'sum_value', 6)}
        FROM events, k
        GROUP BY 1
    """,
    description="sliding window (24h length, 6h slide) — each event lands in 4 windows",
    tags=("events", "window-time"),
)
def sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # F.window with slideDuration generates the same 4-windows-per-event
    # expansion natively (Expand node, no join needed).
    return (
        events.groupBy(F.window("ts", "24 hours", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value", 6))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "events_json_prop_buckets",
    oracle="""
        SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
        GROUP BY 1
    """,
    description="semi-structured JSON prop extraction + bucket agg",
    tags=("events", "json"),
)
def json_prop_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.filter(k.isNotNull())
        .groupBy((k % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "events_sessionize_30m",
    oracle="""
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                        OR lag(ts) OVER w IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessions AS (
          SELECT user_id,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS session_id
          FROM flagged
        ), per_session AS (
          SELECT user_id, session_id, count(*) AS session_events
          FROM sessions GROUP BY user_id, session_id
        )
        SELECT user_id,
               count(*) AS n_sessions,
               max(session_events) AS max_session_events,
               CAST(sum(session_events) AS BIGINT) AS n_events
        FROM per_session GROUP BY user_id
    """,
    description="gap-based sessionization (30 min idle) via lag + running flag-sum",
    tags=("events", "session"),
    bench=True,
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = events.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("session_events")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("session_events").alias("max_session_events"),
        F.sum("session_events").alias("n_events"),
    )


@register(
    "events_sessionize_native_window",
    oracle="""
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                        OR lag(ts) OVER w IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessions AS (
          SELECT user_id,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS session_id
          FROM flagged
        ), per_session AS (
          SELECT user_id, session_id, count(*) AS session_events
          FROM sessions GROUP BY user_id, session_id
        )
        SELECT user_id,
               count(*) AS n_sessions,
               max(session_events) AS max_session_events,
               CAST(sum(session_events) AS BIGINT) AS n_events
        FROM per_session GROUP BY user_id
    """,
    description="sessionization via native session_window (cross-checks the lag-based plan "
    "AND the API the streaming twin uses, streaming/windows.py:session_windows_30m)",
    tags=("events", "session"),
)
def sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as events_sessionize_30m, same oracle SQL, different
    physical strategy: Spark's native session_window (one shuffle on the
    grouping key, interval-merge in the aggregate — no WindowExec sort).
    Boundary parity is exact: a gap of EXACTLY 30 min merges in both the
    native operator (probe: two events 1800s apart -> 1 session) and the
    lag-based `gap > 1800` flag, so the shared oracle is not relying on the
    data avoiding the boundary."""
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    per_session = events.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("session_events"))
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("session_events").alias("max_session_events"),
        F.sum("session_events").alias("n_events"),
    )


@register(
    "events_top20_users_by_value",
    oracle=f"""
        SELECT user_id,
               {sql_dsum('value', 'total_value', 6)},
               count(*) AS n_events
        FROM events
        GROUP BY user_id
        ORDER BY total_value DESC, user_id
        LIMIT 20
    """,
    description="deterministic top-20 users by decimal-exact value sum",
    tags=("events", "topk"),
)
def top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .agg(
            F.sum(dec("value")).alias("tv_exact"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            to_double(F.col("tv_exact"), 6).alias("total_value"),
            "n_events",
            "tv_exact",
        )
        .orderBy(F.col("tv_exact").desc(), "user_id")
        .drop("tv_exact")
        .limit(20)
    )


@register(
    "events_distinct_users_salted",
    oracle="""
        SELECT event_type, count(DISTINCT user_id) AS n_distinct_user_id
        FROM events GROUP BY event_type
    """,
    description="exact count-distinct via two-stage salting (hot-key-safe twin of COUNT DISTINCT)",
    tags=("events", "skew", "agg"),
    bench=True,
)
def distinct_users_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from counsel_data_pipeline_spark.ops.skew import salted_count_distinct

    events = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    return salted_count_distinct(events, ["event_type"], "user_id", n_salts=8)


@register(
    "events_asof_last_click_before_purchase",
    oracle="""
        WITH clicks AS (
          SELECT user_id, ts, max(event_id) AS click_id
          FROM events WHERE event_type = 'click'
          GROUP BY user_id, ts
        ),
        p AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        )
        SELECT p.event_id, p.user_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
               c.click_id
        FROM p ASOF LEFT JOIN clicks c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    description="backward as-of join: each purchase matched to the user's latest prior click "
                "(union + one window per key — no range join)",
    tags=("events", "asof", "join"),
    bench=True,
)
def asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from counsel_data_pipeline_spark.ops.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    # right side deduped per (user, ts) — DuckDB's ASOF leaves that tie
    # unspecified, so pin the survivor identically on both engines
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        purchases, clicks, on=["user_id"], left_ts="ts", right_ts="ts",
        right_cols=["click_id"], suffix="_c",
    )
    return joined.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("ts_c", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.col("click_id_c").alias("click_id"),
    )


@register(
    "events_range_join_error_windows",
    oracle="""
        WITH err AS (
          SELECT event_id, ts, ts + INTERVAL 10 MINUTE AS te
          FROM events WHERE event_type = 'error'
        ),
        p AS (SELECT ts AS pts FROM events WHERE event_type = 'purchase')
        SELECT e.event_id,
               strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS window_start,
               count(p.pts) AS n_purchases
        FROM err e LEFT JOIN p ON p.pts >= e.ts AND p.pts < e.te
        GROUP BY e.event_id, e.ts
    """,
    description="range join via time-bucketization: purchases inside each error's 10-minute window",
    tags=("events", "rangejoin"),
    bench=True,
)
def range_join_error_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from counsel_data_pipeline_spark.ops.rangejoin import interval_join

    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("w_end"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("ts").alias("pts")
    )
    joined = interval_join(
        purchases, err, "pts", "w_start", "w_end", bucket_width_s=600, how="left"
    )
    return joined.groupBy("event_id", "w_start").agg(
        F.count("pts").alias("n_purchases")
    ).select(
        "event_id",
        F.date_format("w_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n_purchases",
    )


@register(
    "events_funnel_view_click_purchase",
    oracle="""
        -- ordered-sequence funnel: first view, first click AFTER that view,
        -- first purchase AFTER that click, per user; then stage counts.
        WITH v AS (
          SELECT user_id, min(ts) AS t_view
          FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
          SELECT e.user_id, min(e.ts) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_view
          GROUP BY e.user_id
        ),
        p AS (
          SELECT e.user_id, min(e.ts) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM v) AS n_view,
               (SELECT count(*) FROM c) AS n_view_click,
               (SELECT count(*) FROM p) AS n_view_click_purchase
    """,
    description="3-stage ordered funnel (view -> click -> purchase) with strict event-time ordering",
    tags=("events", "funnel"),
)
def funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: ONE fact scan and one shuffle. The three stage
    timestamps chain as conditional minima over the same per-user window
    partitioning (first view; first click after it; first purchase after
    that), so Catalyst plans a single sort per user partition and the
    per-stage join-back of the naive form — which cost six fact scans —
    disappears. The per-user collapse and the final three counts ride
    the window's partitioning (no further exchange until the single-row
    reduce)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    return funnel_plan(ev)


def funnel_plan(ev: DataFrame) -> DataFrame:
    """The chained-window funnel body over a (user_id, event_type, ts)
    frame — its own function so the retired 10× race (SCALE.md,
    "Round-11 fact-scan consolidation") re-runs the shipped plan."""
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_view_click"),
        F.count("t_purchase").alias("n_view_click_purchase"),
    )


@register(
    "events_weekly_cohort_retention",
    oracle="""
        -- classic cohort triangle: users grouped by first-activity week,
        -- counted in each subsequent week they return.
        WITH first_seen AS (
          SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
          FROM events GROUP BY user_id
        ),
        activity AS (
          SELECT DISTINCT user_id, date_trunc('week', ts) AS week
          FROM events
        )
        SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort,
               CAST(date_diff('day', cohort_week, week) // 7 AS INT) AS week_offset,
               count(*) AS n_active_users
        FROM activity JOIN first_seen USING (user_id)
        GROUP BY 1, 2
    """,
    description="weekly cohort retention triangle (first-activity cohort x return-week offset)",
    tags=("events", "cohort"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    return (
        activity.join(first_seen, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort"),
            (F.datediff("week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


@register(
    "events_zscore_anomalies",
    oracle="""
        -- outlier detection with cross-engine-exact moments: sums of value
        -- and value^2 in DECIMAL (exact), then mean/variance/z in identical
        -- double expressions (sqrt is IEEE-correctly-rounded in both).
        WITH m AS (
          SELECT event_type,
                 count(*) AS n,
                 CAST(round(sum(CAST(value AS DECIMAL(15,6))), 6) AS DOUBLE) AS s,
                 CAST(round(sum(CAST(value AS DECIMAL(15,6))
                                * CAST(value AS DECIMAL(15,6))), 6) AS DOUBLE) AS sq
          FROM events GROUP BY event_type
        ),
        stats AS (
          SELECT event_type, s / n AS mean,
                 sqrt(sq / n - (s / n) * (s / n)) AS std
          FROM m
        )
        SELECT event_id, e.event_type, value,
               round((value - mean) / std, 6) AS z
        FROM events e JOIN stats USING (event_type)
        ORDER BY abs((value - mean) / std) DESC, event_id
        LIMIT 20
    """,
    description="top-20 value outliers by per-type z-score (decimal-exact moments)",
    tags=("events", "stats", "anomaly"),
)
def zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = F.col("value").cast("decimal(15,6)")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(d), 6).cast("double").alias("s"),
        F.round(F.sum(d * d), 6).cast("double").alias("sq"),
    )
    stats = m.select(
        "event_type",
        (F.col("s") / F.col("n")).alias("mean"),
        F.sqrt(
            F.col("sq") / F.col("n")
            - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n"))
        ).alias("std"),
    )
    z = (F.col("value") - F.col("mean")) / F.col("std")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", "value", F.round(z, 6).alias("z"), z.alias("__z"))
        .orderBy(F.abs(F.col("__z")).desc(), "event_id")
        .limit(20)
        .drop("__z")
    )


@register(
    "events_daily_type_pivot",
    oracle="""
        -- pivot via conditional aggregation (the relational twin of
        -- DataFrame.pivot with an explicit value list — one pass, no
        -- values-discovery scan).
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
               CAST(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
               CAST(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
               CAST(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view
        FROM events
        GROUP BY 1
    """,
    description="day x event-type count matrix via pivot with explicit values (single pass)",
    tags=("events", "pivot"),
)
def daily_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )


@register(
    "events_pivot_roundtrip_unpivot",
    oracle="""
        -- unpivot (melt) back to long form: the wide day x type matrix
        -- restacked to (day, event_type, n) — only nonzero cells, matching
        -- the original long-form counts exactly.
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               event_type, count(*) AS n
        FROM events
        GROUP BY 1, 2
    """,
    description="unpivot/melt of the pivoted matrix back to long form (round-trip identity)",
    tags=("events", "pivot"),
)
def pivot_roundtrip_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = daily_type_pivot(spark, sf_dir)
    long = wide.unpivot(
        "day",
        ["click", "error", "purchase", "signup", "view"],
        "event_type",
        "n",
    )
    # drop structurally-zero cells so the round trip equals the original
    # long-form aggregate (count(*) never emits zero groups)
    return long.filter(F.col("n") > 0)


@register(
    "join_salted_hot_users",
    oracle="""
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
                 AS sum_value_mi
        FROM events JOIN customer ON c_custkey = user_id
        GROUP BY c_mktsegment
    """,
    description="salted fact⋈dim join attested end-to-end: the event "
    "stream's hot user keys are scattered over 8 deterministic salt "
    "shards, the customer dim replicated per salt, joined on (key, salt) "
    "— semantically identical to the plain equi-join (the oracle), so "
    "the green row certifies the skew-mitigation rewrite is lossless",
    tags=("events", "join", "skew"),
)
def join_salted_hot_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: a hot user (billions of events on one key) lands a
    plain shuffled join's whole key on one task; salted_join scatters
    the large side across (key, salt) with a DETERMINISTIC salt (stable
    under task retries — rand() would break exactly-once sinks) and
    explodes the dim side 8x. AQE skew-join is the first answer
    (ops/skew.py preference order); this query attests the code-level
    rewrite for when the skewed side must stay co-partitioned with
    later stages. Post-join aggregation is partial map-side; the
    count-distinct folds users into salt shards the same way."""
    from counsel_data_pipeline_spark.ops.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(
        ev, cust, on=["user_id"], n_salts=8, distinct_on=["event_id"]
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.expr("CAST(round(value * 1000000) AS BIGINT)"))
        .cast("bigint")
        .alias("sum_value_mi"),
    )


@register(
    "events_variant_props_extract",
    oracle="""
        WITH ex AS (
          SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
                 event_type, user_id,
                 CAST(round(value * 1000000) AS BIGINT) AS value_mi
          FROM events
        ),
        per_user AS (
          SELECT event_type, k % 8 AS k_bucket, user_id,
                 count(*) AS n, CAST(sum(value_mi) AS BIGINT) AS s
          FROM ex GROUP BY 1, 2, 3
        )
        SELECT event_type, k_bucket,
               CAST(sum(n) AS BIGINT) AS n_events,
               CAST(count(user_id) AS BIGINT) AS n_users,
               CAST(sum(s) AS BIGINT) AS sum_value_mi,
               CAST(0 AS BIGINT) AS n_missing_path
        FROM per_user GROUP BY 1, 2
    """,
    description="Spark-4 VARIANT surface attested end-to-end: parse_json "
    "over the real events.props JSON column plus a nested document built "
    "from relational columns, typed variant_get extraction (int path, "
    "string path, nested double path), try_variant_get on an absent path "
    "(NULL, counted), aggregated per extracted (event_type, k%8) — the "
    "oracle computes the same result straight from the columns, so the "
    "green row attests the VARIANT roundtrip is value-exact",
    tags=("events", "variant", "semistructured"),
    bench=True,
)
def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: VARIANT is Spark 4's binary semi-structured encoding —
    parse once at the scan boundary, then typed path extraction is a
    columnar read, not a per-row JSON re-parse (the 100 TB answer to
    schema-on-read props). Everything here is Column algebra inside
    whole-stage codegen: parse_json/variant_get are JVM expressions, no
    Python worker. The aggregate pre-folds per (type, bucket, user) with
    map-side combine, so the shuffle carries user-bucket rows, not events,
    and the final distinct-user count is a group count (no expand).
    Cites ref: SURVEY §2.4 polymorphic JSON source — the reference parses
    wrapped JSON per county file; this is the same schema-on-read need
    expressed as a first-class columnar type."""
    ev = load_table(spark, sf_dir, "events")
    # Nested doc from relational columns: {"event_type": ..., "m":
    # {"user_id": ..., "value": ...}} — to_json's shortest-repr doubles
    # roundtrip bit-exact through parse_json (decimal-exact digits).
    doc = F.to_json(
        F.struct(
            F.col("event_type"),
            F.struct(F.col("user_id"), F.col("value")).alias("m"),
        )
    )
    ex = ev.select(
        F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint").alias("k"),
        F.variant_get(F.parse_json(doc), "$.event_type", "string").alias(
            "event_type"
        ),
        F.variant_get(F.parse_json(doc), "$.m.user_id", "bigint").alias("uid"),
        # nested double path off the SAME doc — identical parse_json(doc)
        # trees, so codegen subexpression elimination serializes and
        # parses the document once for all three extractions (a second
        # per-row named_struct->JSON->VARIANT roundtrip here would be
        # pure waste: distinct to_json calls can't be merged)
        F.round(
            F.variant_get(F.parse_json(doc), "$.m.value", "double") * 1000000
        )
        .cast("bigint")
        .alias("value_mi"),
        F.try_variant_get(F.parse_json(F.col("props")), "$.absent", "string")
        .alias("missing"),
    )
    per_user = ex.groupBy(
        "event_type", (F.col("k") % 8).alias("k_bucket"), "uid"
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("value_mi").cast("bigint").alias("__s"),
        F.count("missing").alias("__miss"),
    )
    return per_user.groupBy("event_type", "k_bucket").agg(
        F.sum("__n").cast("bigint").alias("n_events"),
        F.count("uid").cast("bigint").alias("n_users"),
        F.sum("__s").cast("bigint").alias("sum_value_mi"),
        F.sum("__miss").cast("bigint").alias("n_missing_path"),
    )


# ---------------------------------------------------------------------------
# Sequential pattern detection: view -> click -> purchase with no error
# between (MATCH_RECOGNIZE-lite over one sort + one co-partitioned join)
# ---------------------------------------------------------------------------


@register(
    "events_sequence_detect",
    oracle="""
        -- For each purchase: its most recent prior click; at that click,
        -- its most recent prior view and the running error count there;
        -- a match requires zero errors strictly between view and
        -- purchase. All carries ride ONE per-user ordered pass; the only
        -- join fetches the click row's carried state by (user, rn).
        WITH ordered AS (
          SELECT user_id, event_id, ts, event_type,
                 CAST(round(value * 1000000) AS BIGINT) AS value_mi,
                 row_number() OVER w AS rn,
                 sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS ce_incl
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        carried AS (
          SELECT *,
                 ce_incl - CASE WHEN event_type = 'error' THEN 1 ELSE 0 END
                   AS ce_prev,
                 last_value(CASE WHEN event_type = 'click' THEN rn END
                            IGNORE NULLS) OVER wp AS last_click_rn,
                 last_value(CASE WHEN event_type = 'view' THEN rn END
                            IGNORE NULLS) OVER wp AS last_view_rn,
                 last_value(CASE WHEN event_type = 'view' THEN ce_incl END
                            IGNORE NULLS) OVER wp AS last_view_ce
          FROM ordered
          WINDOW wp AS (PARTITION BY user_id ORDER BY rn
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ),
        matches AS (
          SELECT p.user_id, p.value_mi
          FROM carried p JOIN carried c
            ON p.user_id = c.user_id AND p.last_click_rn = c.rn
          WHERE p.event_type = 'purchase'
            AND c.last_view_rn IS NOT NULL
            AND p.ce_prev - c.last_view_ce = 0
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_matches,
               CAST(sum(value_mi) AS BIGINT) AS matched_value_mi
        FROM matches GROUP BY 1
    """,
    description="sequential pattern detection (MATCH_RECOGNIZE-lite): "
    "purchases preceded by click preceded by view with ZERO errors "
    "strictly between view and purchase — resolved with running-count "
    "carries over ONE per-user sort plus a single co-partitioned "
    "rn-lookup join (no per-pattern rescans), folded per user",
    tags=("events", "window", "pattern"),
    bench=True,
)
def sequence_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: arbitrary-gap sequence patterns cannot use fixed-lag
    lag() — the carries (last click rn, last view rn, error running
    count at the view) make each row carry its own pattern state, so
    matching is O(n) in events after one (user, ts) sort shared by ALL
    window columns; the only join is rn-equality inside the same user
    partition (co-partitioned, never a cross product). The error-free
    constraint is a difference of running counts — no interval scan.
    At 100 TB this is the shape streaming CEP engines use (state =
    carried columns), here in its batch form with an exact SQL twin."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = w.rowsBetween(Window.unboundedPreceding, -1)
    wi = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    is_err = F.when(F.col("event_type") == "error", 1).otherwise(0)
    ordered = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.expr("CAST(round(value * 1000000) AS BIGINT)").alias("value_mi"),
        F.row_number().over(w).alias("rn"),
        F.sum(is_err).over(wi).alias("ce_incl"),
    )
    carried = ordered.select(
        "user_id",
        "event_type",
        "value_mi",
        "rn",
        (F.col("ce_incl") - is_err).alias("ce_prev"),
        F.last(
            F.when(F.col("event_type") == "click", F.col("rn")),
            ignorenulls=True,
        )
        .over(wp)
        .alias("last_click_rn"),
        F.last(
            F.when(F.col("event_type") == "view", F.col("rn")),
            ignorenulls=True,
        )
        .over(wp)
        .alias("last_view_rn"),
        F.last(
            F.when(F.col("event_type") == "view", F.col("ce_incl")),
            ignorenulls=True,
        )
        .over(wp)
        .alias("last_view_ce"),
    )
    p = carried.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "value_mi",
        "ce_prev",
        F.col("last_click_rn").alias("click_rn"),
    )
    c = carried.select(
        F.col("user_id").alias("c_user"),
        F.col("rn").alias("c_rn"),
        F.col("last_view_rn").alias("c_view_rn"),
        F.col("last_view_ce").alias("c_view_ce"),
    )
    matches = p.join(
        c,
        (p.user_id == c.c_user) & (p.click_rn == c.c_rn),
    ).filter(
        F.col("c_view_rn").isNotNull()
        & (F.col("ce_prev") - F.col("c_view_ce") == 0)
    )
    return matches.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        F.sum("value_mi").cast("bigint").alias("matched_value_mi"),
    )


# ---------------------------------------------------------------------------
# Sweep-line interval concurrency
# ---------------------------------------------------------------------------


@register(
    "events_max_concurrent",
    oracle="""
        -- Naive global sweep-line: every event opens a [ts, ts+30min)
        -- interval; +1/-1 deltas sorted by (t, delta) — ends before
        -- starts at the same instant (end-exclusive intervals) — and a
        -- running sum whose max is the peak concurrency per type. The
        -- Spark side decomposes the same prefix sum by day; the green
        -- hash row attests the decomposition's exactness.
        WITH pts AS (
          SELECT event_type, ts AS t, 1 AS delta FROM events
          UNION ALL
          SELECT event_type, ts + INTERVAL 30 MINUTE AS t, -1 AS delta
          FROM events
        ),
        rs AS (
          SELECT event_type,
                 sum(delta) OVER (
                   PARTITION BY event_type ORDER BY t, delta
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
          FROM pts
        ),
        mx AS (
          SELECT event_type, CAST(max(r) AS BIGINT) AS max_concurrent
          FROM rs GROUP BY 1
        ),
        ns AS (
          SELECT event_type, count(*) AS n_sessions FROM events GROUP BY 1
        )
        SELECT event_type, max_concurrent, n_sessions
        FROM mx JOIN ns USING (event_type)
    """,
    description=(
        "peak interval concurrency per event type (each event holds a "
        "30-minute end-exclusive session): the classic +1/-1 sweep-line, "
        "computed as a DISTRIBUTED prefix sum — per-(type, day) running "
        "sums plus a tiny cross-day offset cascade — so no event type "
        "ever sorts in a single task; max over equal-timestamp tie "
        "groups is order-independent, so the result is deterministic"
    ),
    tags=("events", "window-time"),
    bench=True,
)
def max_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed sweep-line. The naive plan windows over the whole
    event type — a single sorting task per type at 100 TB. Instead the
    running sum is decomposed: (1) within (type, day), sort locally and
    take the running sum `rs`, its per-day max, and the day's total
    delta; (2) across the (type, day) grid — thousands of rows, not
    billions — cumulate the day totals into each day's starting offset;
    (3) the answer is max(offset + day_max). Exact for any bucketing of
    a prefix sum; day granularity keeps every sort partition bounded by
    one day of one type's events. Equal (t, delta) rows are
    interchangeable, so the within-group visit order cannot change the
    max. Ends sort before starts at the same instant (delta -1 < +1),
    matching end-exclusive [ts, ts+30m) semantics."""
    events = load_table(spark, sf_dir, "events")
    return sweepline_peak(events)


def sweepline_peak(events: DataFrame) -> DataFrame:
    """The distributed sweep-line over any (event_type, ts) frame —
    its own function so the retired 10× race (SCALE.md, "Round-10
    additions") re-runs the exact production decomposition.

    Both sweep points of an event (+1 at ts, -1 at ts+30m) come from ONE
    explode over a 2-element literal array, and the session count is
    recovered from the +1 points — so the whole query reads the fact
    exactly once (the union-of-two-selects form planned 3 scans)."""
    pts = events.select(
        "event_type",
        F.explode(
            F.array(
                F.struct(F.col("ts").alias("t"), F.lit(1).alias("delta")),
                F.struct(
                    (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("pt"),
    ).select(
        "event_type", F.col("pt.t").alias("t"), F.col("pt.delta").alias("delta")
    ).withColumn("day", F.date_trunc("day", "t"))

    in_day = Window.partitionBy("event_type", "day").orderBy("t", "delta").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    per_day = (
        pts.withColumn("rs", F.sum("delta").over(in_day))
        .groupBy("event_type", "day")
        .agg(
            F.max("rs").alias("day_max"),
            F.sum("delta").alias("day_sum"),
            # each event contributes exactly one +1 point, so the day's
            # session count falls out of the same aggregate
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias("day_n"),
        )
    )
    across = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        per_day.withColumn(
            "offset", F.coalesce(F.sum("day_sum").over(across), F.lit(0))
        )
        .groupBy("event_type")
        .agg(
            (F.max(F.col("offset") + F.col("day_max")))
            .cast("bigint")
            .alias("max_concurrent"),
            F.sum("day_n").cast("bigint").alias("n_sessions"),
        )
    )


# ---------------------------------------------------------------------------
# Robust (median/MAD) outlier detection
# ---------------------------------------------------------------------------


@register(
    "events_mad_robust_outliers",
    oracle="""
        -- Median/MAD robust outlier screen per event type, computed on
        -- the exact 1e6 micro-unit grid: medians of integers (and of
        -- the .5-grid deviations) interpolate to exact binary
        -- fractions, so every comparison — including the 3*MAD fence —
        -- is bit-deterministic across engines. MAD tolerates up to 50%
        -- contamination where the zscore twin's mean/stddev are
        -- dragged by the outliers themselves.
        WITH v AS (
          SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS v_mi
          FROM events WHERE value IS NOT NULL
        ),
        med AS (
          SELECT event_type, median(v_mi) AS med_mi FROM v GROUP BY 1
        ),
        dev AS (
          SELECT v.event_type,
                 abs(CAST(v_mi AS DOUBLE) - med_mi) AS dev, med_mi
          FROM v JOIN med USING (event_type)
        ),
        mad AS (
          SELECT event_type, median(dev) AS mad_mi FROM dev GROUP BY 1
        )
        SELECT event_type,
               count(*) AS n_events,
               CAST(count_if(dev > 3 * mad_mi) AS BIGINT) AS n_outliers,
               min(med_mi) AS med_mi,
               min(mad_mi) AS mad_mi
        FROM dev JOIN mad USING (event_type)
        GROUP BY 1
    """,
    description=(
        "robust anomaly screen: per-type median and median-absolute-"
        "deviation on the exact micro-unit grid, outliers = |v - med| > "
        "3*MAD — the breakdown-point-0.5 complement of "
        "events_zscore_anomalies (mean/stddev have breakdown point 0)"
    ),
    tags=("events", "quality"),
)
def mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: two aggregations over event_type with the small
    (types-sized) median tables broadcast back — no window over a whole
    type, no sort of the fact table. Exact median holds group values in
    memory; at 100 TB per-type cardinality, swap approx_percentile(0.5)
    or the mergeable histogram sketch — the fence logic is unchanged.

    The final aggregate is localCheckpoint'ed (eager, executor-side) so
    the persisted deviation frame can be unpersisted before returning —
    a long-lived driver session sweeping the catalog would otherwise
    leak one cached DataFrame per invocation (same lifetime-bounding
    pattern as graph.common_neighbors)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 1000000).cast("bigint").alias("v_mi"),
        )
    )
    med = ev.groupBy("event_type").agg(F.expr("median(v_mi)").alias("med_mi"))
    # Persisted: dev feeds BOTH the MAD aggregation and the final fence
    # count; without it the events scan + median join run twice more
    # (4 fact scans instead of 2).
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med_mi",
        F.abs(F.col("v_mi").cast("double") - F.col("med_mi")).alias("dev"),
    ).persist()
    try:
        mad = dev.groupBy("event_type").agg(
            F.expr("median(dev)").alias("mad_mi")
        )
        # eager: must materialize before the finally releases dev
        return pin(
            dev.join(F.broadcast(mad), "event_type")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.expr("count_if(dev > 3 * mad_mi)").alias("n_outliers"),
                F.min("med_mi").alias("med_mi"),
                F.min("mad_mi").alias("mad_mi"),
            )
        )
    finally:
        dev.unpersist()

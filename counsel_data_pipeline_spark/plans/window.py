"""Window/analytic query plans.

The reference has no window functions (SURVEY §2.13) but its order-sensitive
operators (first-wins dedup A1, stable sort O1) are implemented with windows
in this engine, so the analytic surface is first-class here.

Scale notes: every window below partitions by a high-cardinality key
(customer, user, brand) — one shuffle on the partition key, then sorting
within partitions only. No global ORDER BY except after aggregation to a
small result. Running aggregates use explicit ROWS frames (RANGE is the
default with ORDER BY and differs across engines on ties).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.catalog import register
from counsel_data_pipeline_spark.io.sources import load_table
from counsel_data_pipeline_spark.ops.materialize import pin
from counsel_data_pipeline_spark.plans._parity import dec, dsum, to_double


@register(
    "window_top3_orders_per_customer",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice, rn
        FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders
        )
        WHERE rn <= 3
    """,
    description="row_number top-3 orders per customer (deterministic tiebreak on key)",
    tags=("window", "topk"),
)
def top3_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


@register(
    "window_running_customer_spend",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ), 2) AS DOUBLE) AS running_spend
        FROM orders
    """,
    description="running decimal-exact spend per customer (explicit ROWS frame)",
    tags=("window", "agg"),
)
def running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        to_double(F.sum(dec("o_totalprice")).over(w)).alias("running_spend"),
    )


@register(
    "window_event_value_delta",
    oracle="""
        SELECT event_id, user_id,
               value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS delta
        FROM events
    """,
    description="per-user lag delta over event time (single FP subtraction — parity-safe)",
    tags=("window",),
)
def event_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@register(
    "window_part_price_rank",
    oracle="""
        SELECT p_brand, p_partkey, p_retailprice, price_rank
        FROM (
          SELECT p_brand, p_partkey, p_retailprice,
                 dense_rank() OVER (PARTITION BY p_brand
                                    ORDER BY p_retailprice DESC) AS price_rank
          FROM part
        )
        WHERE price_rank <= 3
    """,
    description="dense_rank price ranking within brand (ties kept — deterministic set)",
    tags=("window", "topk"),
)
def part_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select("p_brand", "p_partkey", "p_retailprice")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return part.withColumn("price_rank", F.dense_rank().over(w)).filter(
        F.col("price_rank") <= 3
    )


@register(
    "window_order_gap_days",
    oracle="""
        SELECT o_custkey, o_orderkey,
               date_diff('day',
                         lag(o_orderdate) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate, o_orderkey),
                         o_orderdate) AS gap_days
        FROM orders
    """,
    description="days since customer's previous order (lag + integer date diff)",
    tags=("window", "datetime"),
)
def order_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).cast("bigint").alias("gap_days"),
    )


@register(
    "window_customer_balance_quartiles",
    oracle="""
        SELECT c_custkey,
               ntile(4)      OVER w AS balance_quartile,
               percent_rank() OVER w AS pct_rank,
               cume_dist()    OVER w AS cume
        FROM customer
        WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
    description="ranking-family analytics (ntile/percent_rank/cume_dist) with deterministic tiebreak",
    tags=("relational", "window"),
)
def balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # unpartitioned ranking is inherently single-ordered; at scale the
    # partitionless window is the documented cost (use a bucketed variant
    # per nation/date for parallel ranking when global rank isn't needed)
    w = Window.orderBy("c_acctbal", "c_custkey")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    return customer.select(
        "c_custkey",
        F.ntile(4).over(w).alias("balance_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "window_balance_quartiles_distributed",
    oracle="""
        SELECT c_custkey,
               ntile(4)      OVER w AS balance_quartile,
               percent_rank() OVER w AS pct_rank,
               cume_dist()    OVER w AS cume
        FROM customer
        WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
    description="global ranking WITHOUT a single-partition window: range-partition + local ranks + offset prefix-sum",
    tags=("relational", "window", "scale"),
)
def balance_quartiles_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe twin of ``window_customer_balance_quartiles``.

    The global `Window.orderBy(...)` variant funnels every row through ONE
    task (Exchange SinglePartition → WindowExec) — correct, but a 100 TB
    non-starter. This plan computes identical values with bounded
    parallelism:

    1. ``repartitionByRange`` on the sort key (P parallel sorted ranges),
       pinned with ``localCheckpoint`` — range sampling is per-job
       nondeterministic, and the offsets job and the main job MUST see
       the same partitioning.
    2. per-partition ``row_number`` windows keyed on
       ``spark_partition_id()`` — P independent sorts, no global funnel.
    3. per-partition counts (P rows) → driver prefix-sum → literal CASE
       mapping pid → rank offset. global rank = offset + local rank.
    4. ntile/percent_rank/cume_dist are pure arithmetic on (rank, n):
       unique (c_acctbal, c_custkey) ordering ⇒ rank() = row_number(),
       so pct_rank = (r-1)/(n-1), cume = r/n, and ntile(4) is the ANSI
       first-(n mod 4)-buckets-get-one-extra split.
    """
    from functools import reduce

    from pyspark.sql import Window

    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    n_parts = max(2, spark.sparkContext.defaultParallelism // 4)
    # eager: the collect below must observe the SAME materialized
    # partition assignment the final plan reads (range sampling is
    # per-job without the pin)
    dfp = pin(
        customer.repartitionByRange(n_parts, "c_acctbal", "c_custkey")
        .withColumn("__pid", F.spark_partition_id())
    )
    counts = sorted(
        (r["__pid"], r["cnt"])
        for r in dfp.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    n = sum(c for _, c in counts)
    offsets, acc = {}, 0
    for pid, c in counts:
        offsets[pid] = acc
        acc += c

    w = Window.partitionBy("__pid").orderBy("c_acctbal", "c_custkey")
    offset_col = reduce(
        lambda e, kv: e.when(F.col("__pid") == kv[0], F.lit(kv[1])),
        offsets.items(),
        F.when(F.lit(False), F.lit(0)),
    ).otherwise(F.lit(0))
    rank = (F.row_number().over(w) + offset_col).alias("__r")

    base, rem = divmod(n, 4)
    r = F.col("__r")
    big = rem * (base + 1)  # rows covered by the (base+1)-sized buckets
    quartile = (
        F.when(r <= big, F.floor((r - 1) / (base + 1)) + 1)
        .otherwise(rem + F.floor((r - big - 1) / base) + 1)
        .cast("int")
        if base > 0
        else F.least(r, F.lit(4)).cast("int")  # n < 4: one row per bucket
    )
    pct = ((r - 1) / F.lit(n - 1)) if n > 1 else F.lit(0.0)
    return (
        dfp.select("c_custkey", rank)
        .select(
            "c_custkey",
            quartile.alias("balance_quartile"),
            pct.alias("pct_rank"),
            (r / F.lit(n)).alias("cume"),
        )
    )


@register(
    "window_rolling_7day_user_value",
    oracle="""
        -- event-time RANGE frame: per user, sum of value over the trailing
        -- 7 days (inclusive) at each event. Decimal sum keeps the rolling
        -- total exact and engine-independent.
        SELECT event_id, user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
               CAST(round(sum(CAST(value AS DECIMAL(30,6))) OVER (
                      PARTITION BY user_id ORDER BY ts
                      RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
                    ), 6) AS DOUBLE) AS rolling_7d_value
        FROM events
    """,
    description="time-RANGE window frame: trailing-7-day rolling sum per user",
    tags=("events", "window", "window-time"),
)
def rolling_7day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # RANGE frames need a numeric ordering column in Spark: order by epoch
    # microseconds, frame = [-7 days, 0] in the same unit.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        to_double(F.sum(dec("value")).over(w), 6).alias("rolling_7d_value"),
    )


@register(
    "window_fill_forward_last_purchase",
    oracle="""
        -- gap-fill: carry each user's last purchase value forward across
        -- their subsequent events (last_value IGNORE NULLS over an
        -- unbounded-preceding frame, deterministic (ts, event_id) order).
        SELECT event_id, user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
               last_value(CASE WHEN event_type = 'purchase' THEN value END
                          IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS last_purchase_value
        FROM events
    """,
    description="fill-forward imputation: last purchase value carried across each user's events",
    tags=("events", "window", "gap-fill"),
)
def fill_forward_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.last(purchase_val, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


# ---------------------------------------------------------------------------
# Finite-horizon EWMA smoothing (all-integer micro-unit arithmetic)
# ---------------------------------------------------------------------------

# 32-lag exponential decay weights (alpha = 0.9), scaled to integers so the
# weighted sum is exact BIGINT arithmetic in both engines: W[d] ~ 0.9^d·1e6.
_EWMA_N = 32
_EWMA_W = [round(0.9**d * 1_000_000) for d in range(_EWMA_N)]
# DEN[k] = sum of the first k weights — the normalizer when only k lags exist
_EWMA_DEN = [sum(_EWMA_W[: k + 1]) for k in range(_EWMA_N)]


def _ewma_oracle() -> str:
    num_terms = " + ".join(
        f"COALESCE(lag(v6, {d}) OVER w, 0) * {w}" for d, w in enumerate(_EWMA_W)
    )
    dens = ", ".join(str(d) for d in _EWMA_DEN)
    return f"""
        -- Per-user finite-horizon EWMA (alpha=0.9 over the trailing 32
        -- events) as ONE window pass: value in exact integer micro-units,
        -- integer decay weights, so the weighted sum is BIGINT-exact and
        -- the only float step is the final raw division (unrounded —
        -- integer ratios tie exactly at rounding grids). The
        -- deviation column is the residual an anomaly monitor thresholds.
        WITH v AS (
          SELECT event_id, user_id, ts, value,
                 CAST(CAST(value AS DECIMAL(30,6)) * 1000000 AS BIGINT) AS v6
          FROM events
        ),
        e AS (
          SELECT event_id, user_id, ts, value,
                 {num_terms} AS num,
                 ([{dens}])[least(CAST(row_number() OVER w AS INT), {_EWMA_N})]
                   AS den
          FROM v
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT event_id, user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
               CAST(num AS DOUBLE)
                     / CAST(CAST(den AS BIGINT) * 1000000 AS DOUBLE)
                 AS ewma_value,
               value - (CAST(num AS DOUBLE)
                     / CAST(CAST(den AS BIGINT) * 1000000 AS DOUBLE))
                 AS deviation
        FROM e
    """


@register(
    "window_ewma_user_value",
    oracle=_ewma_oracle(),
    description=f"per-user exponential smoothing: finite-horizon EWMA "
    f"(alpha=0.9, {_EWMA_N} lags) + residual, computed as a single "
    f"ROWS window pass with integer decay weights — exact BIGINT "
    f"arithmetic until one final division; no self-join, no UDF",
    tags=("events", "window", "timeseries"),
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming-monitor shape (EWMA + residual anomaly score) done in
    batch: one WindowExec over (user, time) — at 100 TB this is a single
    shuffle on user_id and a per-partition sort, with all 32 lags computed
    in the same window frame pass. Weights are integer literals, the value
    is exact micro-units, so partition order cannot perturb the result."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v6 = (dec("value") * 1_000_000).cast("bigint")
    num = None
    for d, wt in enumerate(_EWMA_W):
        term = F.coalesce(F.lag(v6, d).over(w), F.lit(0).cast("bigint")) * F.lit(wt)
        num = term if num is None else num + term
    den = F.element_at(
        F.array(*[F.lit(x).cast("bigint") for x in _EWMA_DEN]),
        F.least(F.row_number().over(w), F.lit(_EWMA_N)),
    )
    # raw quotient, not rounded: integer ratios can tie EXACTLY at any
    # rounding grid and engine round()s split ties differently (the
    # classifier hit this at sf0.1); the int/int IEEE division itself is
    # bit-identical across engines and the python/streaming twins
    ewma = num.cast("double") / (den * 1_000_000).cast("double")
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        ewma.alias("ewma_value"),
        (F.col("value") - ewma).alias("deviation"),
    )


# ---------------------------------------------------------------------------
# SCD2 dimension history: changelog -> validity intervals
# ---------------------------------------------------------------------------


# shared with the streaming twin (plans/streaming_live.py): identical
# output contract, so the stream is verified against this same SQL
_SCD2_ORACLE = """
        -- Slowly-changing-dimension (type 2) history builder: collapse
        -- each user's event stream into state-change rows (event_type as
        -- the tracked attribute), then give every state a validity
        -- interval [valid_from, valid_to) via lead(), with the open
        -- current row flagged. Two window passes over the same
        -- (user, time) partitioning — the standard changelog->dimension
        -- materialization, no floats anywhere.
        WITH c AS (
          SELECT user_id, event_type, ts, event_id,
                 lag(event_type) OVER w AS prev
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        ch AS (
          SELECT user_id, event_type, ts, event_id FROM c
          WHERE prev IS NULL OR event_type <> prev
        )
        SELECT user_id, event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from_s,
               strftime(lead(ts) OVER w2, '%Y-%m-%d %H:%M:%S') AS valid_to_s,
               lead(ts) OVER w2 IS NULL AS is_current
        FROM ch
        WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """


@register(
    "window_scd2_intervals",
    oracle=_SCD2_ORACLE,
    description="SCD2 dimension-history builder: per-user state-change "
    "rows with [valid_from, valid_to) intervals and a current flag — two "
    "windows sharing one (user, time) shuffle, the changelog-to-dimension "
    "materialization of a warehouse merge",
    tags=("events", "window", "incremental"),
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warehouse-side twin of ops/diff.py's snapshot carry-forward:
    instead of diffing two snapshots, derive the FULL validity history
    from the change stream. Both windows share the same partitioning, so
    Catalyst plans one Exchange + one sort; at 100 TB this is a single
    user-keyed shuffle regardless of history depth."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = ev.select(
        "user_id", "event_type", "ts", "event_id",
        F.lag("event_type").over(w).alias("prev"),
    )
    ch = c.filter(F.col("prev").isNull() | (F.col("event_type") != F.col("prev")))
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w2)
    return ch.select(
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from_s"),
        F.date_format(nxt, "yyyy-MM-dd HH:mm:ss").alias("valid_to_s"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "window_scd2_point_in_time",
    oracle="""
        -- Point-in-time (temporal) lookup against an SCD2 dimension,
        -- expressed as the single-shuffle carry-forward: the dim is the
        -- compressed state-change stream of ODD event_ids, the facts are
        -- the EVEN ones; union both, order per user by (ts, event_id) —
        -- a fact tied with a change on ts resolves by event id, exactly
        -- the SCD2 builder's ordering — and take the last non-null state
        -- at or before each fact (inclusive start, exclusive end).
        WITH dim AS (
          SELECT user_id, ts, event_id, event_type AS state
          FROM (
            SELECT user_id, ts, event_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev
            FROM events WHERE event_id % 2 = 1
          ) WHERE prev IS NULL OR event_type <> prev
        ),
        u AS (
          SELECT user_id, ts, event_id, state,
                 NULL AS v_mi, FALSE AS is_fact
          FROM dim
          UNION ALL
          SELECT user_id, ts, event_id, NULL,
                 CAST(round(value * 1000000) AS BIGINT), TRUE
          FROM events WHERE event_id % 2 = 0
        ),
        resolved AS (
          SELECT user_id, v_mi, is_fact,
                 last_value(state IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
                 ) AS state
          FROM u
        )
        SELECT COALESCE(state, 'none') AS state,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(v_mi) AS BIGINT) AS sum_value_mi,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM resolved WHERE is_fact
        GROUP BY 1
    """,
    description="point-in-time join against the SCD2 dimension as ONE "
    "user-keyed shuffle: dim changes and facts unioned, per-user "
    "(ts, event_id) order, last non-null state carried forward — the "
    "temporal-lookup plan that replaces a fact x interval range join at "
    "any scale (facts before the first change resolve to 'none')",
    tags=("events", "window", "incremental", "join"),
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warehouse temporal join: 'which state was this user in when
    the fact happened'. An interval build + range join would shuffle both
    sides AND explode matching buckets; the union + carry-forward window
    is one Exchange on user_id total, independent of history depth — and
    boundary semantics (inclusive valid_from, exclusive valid_to, same-ts
    tiebreak by event id) fall out of the sort order instead of needing
    careful predicates."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.filter(F.col("event_id") % 2 == 1)
        .select(
            "user_id", "ts", "event_id", "event_type",
            F.lag("event_type").over(w).alias("prev"),
        )
        .filter(F.col("prev").isNull() | (F.col("event_type") != F.col("prev")))
        .select(
            "user_id", "ts", "event_id",
            F.col("event_type").alias("state"),
            F.lit(None).cast("bigint").alias("v_mi"),
            F.lit(False).alias("is_fact"),
        )
    )
    facts = ev.filter(F.col("event_id") % 2 == 0).select(
        "user_id", "ts", "event_id",
        F.lit(None).cast("string").alias("state"),
        F.expr("CAST(round(value * 1000000) AS BIGINT)").alias("v_mi"),
        F.lit(True).alias("is_fact"),
    )
    resolved = changes.unionByName(facts).select(
        "user_id", "v_mi", "is_fact",
        F.last("state", ignorenulls=True)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("state"),
    )
    return (
        resolved.filter(F.col("is_fact"))
        .groupBy(F.coalesce(F.col("state"), F.lit("none")).alias("state"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("v_mi").cast("bigint").alias("sum_value_mi"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# Gap-fill with linear interpolation on a per-user hourly grid
# ---------------------------------------------------------------------------


@register(
    "window_gap_fill_interpolate",
    oracle="""
        -- Per-user hourly resample with exact integer linear interpolation:
        -- observed hour -> last reading of the hour; gap hour -> floor-div
        -- interpolation between bracketing observations. The output folds
        -- the filled series per user with a position-weighted checksum so
        -- every filled value AND its grid position is hash-attested.
        WITH obs AS (
          SELECT user_id, hour_idx, v6 FROM (
            SELECT user_id,
                   CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour_idx,
                   CAST(CAST(value AS DECIMAL(30,6)) * 1000000 AS BIGINT) AS v6,
                   row_number() OVER (
                     PARTITION BY user_id, CAST(epoch_us(ts) // 3600000000 AS BIGINT)
                     ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) WHERE rn = 1
        ),
        spans AS (
          SELECT user_id, min(hour_idx) AS hmin, max(hour_idx) AS hmax
          FROM obs GROUP BY 1
        ),
        grid AS (
          SELECT user_id, unnest(generate_series(hmin, hmax)) AS hour_idx
          FROM spans
        ),
        joined AS (
          SELECT g.user_id, g.hour_idx, o.v6,
                 last_value(o.v6 IGNORE NULLS) OVER w_prev AS v_prev,
                 last_value(CASE WHEN o.v6 IS NOT NULL THEN g.hour_idx END
                            IGNORE NULLS) OVER w_prev AS h_prev,
                 first_value(o.v6 IGNORE NULLS) OVER w_next AS v_next,
                 first_value(CASE WHEN o.v6 IS NOT NULL THEN g.hour_idx END
                             IGNORE NULLS) OVER w_next AS h_next
          FROM grid g LEFT JOIN obs o
            ON g.user_id = o.user_id AND g.hour_idx = o.hour_idx
          WINDOW
            w_prev AS (PARTITION BY g.user_id ORDER BY g.hour_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            w_next AS (PARTITION BY g.user_id ORDER BY g.hour_idx
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        ),
        filled AS (
          SELECT user_id, hour_idx,
                 CASE WHEN v6 IS NOT NULL THEN v6
                      ELSE v_prev + CAST(
                        ((v_next - v_prev) * (hour_idx - h_prev)
                         - ((((v_next - v_prev) * (hour_idx - h_prev))
                             % (h_next - h_prev)) + (h_next - h_prev))
                           % (h_next - h_prev))
                        // (h_next - h_prev) AS BIGINT)
                 END AS fv6,
                 CASE WHEN v6 IS NOT NULL THEN 1 ELSE 0 END AS is_obs,
                 hour_idx - (min(hour_idx) OVER (PARTITION BY user_id)) AS off
          FROM joined
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_grid_hours,
               CAST(sum(is_obs) AS BIGINT) AS n_observed,
               CAST(sum(1 - is_obs) AS BIGINT) AS n_interpolated,
               CAST(sum(fv6) AS BIGINT) AS sum_filled_v6,
               CAST(sum(fv6 * ((off % 97) + 1)) AS BIGINT) AS checksum_v6
        FROM filled GROUP BY 1
    """,
    description="time-series gap-fill: per-user hourly grid resample with "
    "exact integer linear interpolation between bracketing observations "
    "(floor-division in BIGINT micro-units — bit-identical across engines), "
    "folded per user with a position-weighted checksum that attests every "
    "filled value and its grid position",
    tags=("events", "window", "gap-fill", "interpolation"),
    bench=True,
)
def gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: the plan works INTERVAL-wise, never grid-wise — the
    only window pass (lead + per-user min, one node over one sort) runs
    on the OBSERVATION rows (~10% of events here); each observation then
    explodes into [its hour, next obs hour) with the interpolation
    computed inline, so the dense grid rows are born inside whole-stage
    codegen and flow straight into the map-side partial aggregate:
    the grid is NEVER shuffled, sorted, or windowed. (The first cut
    windowed the 1M-row grid with a currentRow->unboundedFollowing
    frame — Spark evaluates that frame by rescanning the partition tail
    per row, ~O(rows x span), 10.5 s at sf0.1 vs 0.3 s for this shape.)
    Interpolation is pure BIGINT column algebra (pmod floor-div — exact,
    no float drift). At 100 TB: one shuffle of observation rows per
    user-hour, grid cost is pure codegen compute bounded by active span
    hours, and the per-user fold ships one row per user."""
    ev = load_table(spark, sf_dir, "events")
    hour_idx = F.expr("unix_micros(ts) DIV 3600000000")
    v6 = (dec("value") * 1_000_000).cast("bigint")
    w_rn = Window.partitionBy("user_id", "hour_idx").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    obs = (
        ev.select(
            "user_id",
            hour_idx.alias("hour_idx"),
            v6.alias("v6"),
            "ts",
            "event_id",
        )
        .withColumn("rn", F.row_number().over(w_rn))
        .filter(F.col("rn") == 1)
        .select("user_id", "hour_idx", "v6")
    )
    w_o = Window.partitionBy("user_id").orderBy("hour_idx")
    w_all = Window.partitionBy("user_id")
    intervals = obs.select(
        "user_id",
        "hour_idx",
        "v6",
        F.lead("hour_idx").over(w_o).alias("nxt_h"),
        F.lead("v6").over(w_o).alias("nxt_v"),
        F.min("hour_idx").over(w_all).alias("hmin"),
    )
    # each observation owns the half-open hour range up to the next
    # observation; the last observation owns only its own hour
    expanded = intervals.select(
        "user_id",
        "hour_idx",
        "v6",
        "nxt_h",
        "nxt_v",
        "hmin",
        F.explode(
            F.sequence(
                "hour_idx",
                F.coalesce(F.col("nxt_h") - 1, F.col("hour_idx")),
            )
        ).alias("h"),
    )
    interp = F.col("v6") + F.expr(
        "CAST((((nxt_v - v6) * (h - hour_idx))"
        " - pmod((nxt_v - v6) * (h - hour_idx), nxt_h - hour_idx))"
        " DIV (nxt_h - hour_idx) AS BIGINT)"
    )
    filled = expanded.select(
        "user_id",
        F.when(F.col("h") == F.col("hour_idx"), F.col("v6"))
        .otherwise(interp)
        .alias("fv6"),
        F.when(F.col("h") == F.col("hour_idx"), 1).otherwise(0).alias("is_obs"),
        (F.col("h") - F.col("hmin")).alias("off"),
    )
    return filled.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grid_hours"),
        F.sum("is_obs").cast("bigint").alias("n_observed"),
        F.sum(1 - F.col("is_obs")).cast("bigint").alias("n_interpolated"),
        F.sum("fv6").cast("bigint").alias("sum_filled_v6"),
        F.sum(F.col("fv6") * ((F.col("off") % 97) + 1))
        .cast("bigint")
        .alias("checksum_v6"),
    )


# ---------------------------------------------------------------------------
# Exact weighted median without a row-level global sort
# ---------------------------------------------------------------------------


@register(
    "agg_weighted_median_distributed",
    oracle="""
        -- Lower weighted median per return flag: the smallest price
        -- (exact cents grid) whose cumulative quantity-weight reaches
        -- half the group total. Computed over VALUE-level aggregates:
        -- the cumulative window runs on one row per distinct (flag,
        -- cents), never on raw fact rows.
        WITH g AS (
          SELECT l_returnflag,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
                 CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w,
                 count(*) AS nr
          FROM lineitem GROUP BY 1, 2
        ),
        c AS (
          SELECT l_returnflag, x, w,
                 sum(w) OVER (PARTITION BY l_returnflag ORDER BY x) AS cum,
                 CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT)
                   AS total_weight,
                 CAST(sum(nr) OVER (PARTITION BY l_returnflag) AS BIGINT)
                   AS n_rows
          FROM g
        )
        SELECT l_returnflag, n_rows, total_weight,
               CAST(min(CASE WHEN 2 * cum >= total_weight THEN x END)
                    AS BIGINT) AS weighted_median_cents
        FROM c
        GROUP BY 1, 2, 3
    """,
    description=(
        "exact quantity-weighted median price per return flag — the "
        "distributed form: pre-aggregate weights per distinct value "
        "(map-side combinable), cumulate over the value domain, take the "
        "smallest value reaching half the total weight; all arithmetic "
        "on the exact integer cents/quantity grids"
    ),
    tags=("relational", "window", "scale", "agg"),
)
def weighted_median_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: the naive weighted median sorts every fact row per
    group through one task. Here the fact table collapses FIRST to one
    row per distinct (group, value) — a plain hash aggregate, shuffle
    bounded by the VALUE DOMAIN (cents), not row count — and the
    cumulative-weight window then orders only that domain (~1e5 distinct
    cents per flag here, invariant as rows grow 1000x). If the domain
    itself were unbounded, the same range-partition + offset prefix-sum
    trick as window_balance_quartiles_distributed applies unchanged."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("x"),
        F.round(F.col("l_quantity")).cast("bigint").alias("q"),
    )
    return weighted_median_plan(li)


def weighted_median_plan(li: DataFrame) -> DataFrame:
    """Value-domain weighted median over any (l_returnflag, x, q) frame —
    its own function so the retired 10× race (SCALE.md, "Round-10
    additions") re-runs the exact production decomposition. The group
    totals ride the SAME window exchange as the cumulative sum (unbounded
    frame, identical partitioning), so the whole query is one fact scan
    and two exchanges — no totals join, no second scan."""
    g = li.groupBy("l_returnflag", "x").agg(
        F.sum("q").alias("w"), F.count(F.lit(1)).alias("nr")
    )
    cum = Window.partitionBy("l_returnflag").orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy("l_returnflag")
    c = (
        g.withColumn("cum", F.sum("w").over(cum))
        .withColumn("total_weight", F.sum("w").over(tot).cast("bigint"))
        .withColumn("n_rows", F.sum("nr").over(tot).cast("bigint"))
    )
    return (
        c.groupBy("l_returnflag", "n_rows", "total_weight")
        .agg(
            F.min(
                F.when(2 * F.col("cum") >= F.col("total_weight"), F.col("x"))
            )
            .cast("bigint")
            .alias("weighted_median_cents")
        )
        .select("l_returnflag", "n_rows", "total_weight", "weighted_median_cents")
    )

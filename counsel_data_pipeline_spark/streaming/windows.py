"""Structured Streaming surface (SURVEY §2.10 + north-star streaming).

The reference's 'streaming' is a cron micro-batch (Trigger.AvailableNow is
the exact Spark analog, SURVEY T4, run by streaming/microbatch.py); on
top of that, this module provides
the event-time operators Spark adds for free: watermarked tumbling/sliding
window aggregation and gap-based session windows — each the streaming twin
of a batch plan in plans/events.py (tests assert batch ≡ stream on the
same input). The operators take any event stream with a TIMESTAMP ``ts``;
the events table reaches them through microbatch.read_batches over
plans/streaming_live.event_ranges, which stages io/sources.load_table's
normalized rows.

Scale notes: watermark bounds state; tumbling/sliding aggs keep one state
row per (window, key); session_window merges per-key intervals. State
store partitioning follows spark.sql.shuffle.partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.plans._parity import dec, to_double


def tumbling_hourly(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of plans/events.tumbling_hourly."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            to_double(F.sum(dec("value")), 6).alias("sum_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
            "approx_users",
        )
    )


def session_windows_30m(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Native session windows (30-minute gap) — the streaming counterpart
    of the lag-based batch sessionization in plans/events.py."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("session_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "session_events",
        )
    )


def sliding_6h_daily(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of plans/events.sliding_windows (24h length, 6h
    slide): each event feeds 4 window states; the watermark bounds how
    long each state row lives."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "24 hours", "6 hours").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            to_double(F.sum(dec("value")), 6).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n_events",
            "sum_value",
        )
    )


def stream_static_enriched_hourly(events: DataFrame, user_dim: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Stream-static join: enrich the event stream with a static dimension
    (no state needed on the static side — each micro-batch joins against
    the table as-of that batch; at scale the dim is broadcast), then a
    watermarked tumbling count per (hour, dim attribute)."""
    return (
        events.withWatermark("ts", watermark)
        .join(user_dim, "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "tier")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "tier",
            "n_events",
        )
    )


def stream_dedup_within_watermark(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exactly-once ingestion: drop duplicate events by key with
    state bounded by the watermark (dropDuplicatesWithinWatermark keeps a
    key's dedup state only until the watermark passes it — infinite streams,
    finite state; plain dropDuplicates on a stream would grow state
    forever). The at-least-once → exactly-once bridge for replayed sources."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def stream_stream_click_purchase_join(
    clicks: DataFrame, purchases: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same user's
    clicks in the preceding 10 minutes. Both sides carry watermarks and the
    join condition bounds event-time distance, so Spark can expire buffered
    state on both sides (unbounded-state stream joins are rejected by the
    engine — the time bound IS the scale contract)."""
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 10 MINUTES")),
        "inner",
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts_s"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts_s"),
    )

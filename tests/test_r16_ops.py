"""r16 registration: the EventTimeTimeout session closer
(streaming_closed_sessions_timeout) — per the r15 verdict ask #2, the
batch-equivalence its oracle relies on is pinned ON the registered path,
and the timer semantics the oracle encodes (millisecond truncation of
micro-second event times, STRICT watermark comparison, firing in the
AvailableNow no-data batch) are pinned at the 1 ms boundary.
"""

import datetime

import pyspark.sql.functions as F
from pyspark.sql import Window

SF_DIR = "/root/testdata/sf0.001"
GAP_S = 1800


def _run(spark, stage_rows, batches):
    """Stage rows as one micro-batch file per batch — the event-time-
    ordered arrival the registered staging guarantees — and return the
    closed sessions' (user, reason) pairs."""
    from counsel_data_pipeline_spark.streaming.microbatch import (
        read_batches,
        run_available_now,
    )
    from counsel_data_pipeline_spark.streaming.timeout_sessions import (
        closed_sessions_stateful,
    )

    schema = "user_id bigint, ts timestamp"
    stream = read_batches(spark, schema, stage_rows(batches, schema))
    out = run_available_now(closed_sessions_stateful(stream, gap_s=GAP_S), "append")
    return sorted((r.user_id, r.close_reason) for r in out.collect())


def test_timer_boundary_equal_deadline_does_not_fire(spark, stage_rows):
    """deadline_ms == final watermark_ms -> NOT fired (strict compare),
    with both sides carrying sub-millisecond components that truncation
    must drop: last event at +500us (deadline floor-ms = gap_ms), final
    watermark from an event at gap + 999us (floor-ms = gap_ms)."""
    t0 = datetime.datetime(2024, 1, 1, 8, 0, 0)
    us = lambda x: t0 + datetime.timedelta(microseconds=x)
    got = _run(
        spark, stage_rows,
        [[(1, us(500))], [(9, us(GAP_S * 1_000_000 + 999))]],
    )
    assert got == []  # both sessions still open: nothing emitted


def test_timer_boundary_one_ms_below_fires(spark, stage_rows):
    """deadline_ms == final watermark_ms - 1 -> fired in the no-data
    batch: same staging, final event one micro-second later so its
    floor-ms crosses to gap_ms + 1."""
    t0 = datetime.datetime(2024, 1, 1, 8, 0, 0)
    us = lambda x: t0 + datetime.timedelta(microseconds=x)
    got = _run(
        spark, stage_rows,
        [[(1, us(500))], [(9, us(GAP_S * 1_000_000 + 1000))]],
    )
    assert got == [(1, "timeout")]


def _batch_expected(spark):
    """The emitted set derived entirely batch-side with the oracle's
    definition: gap sessionization over (ts, event_id), every non-last
    session, plus the last session iff floor_ms(end) + gap_ms <
    floor_ms(global max ts)."""
    from counsel_data_pipeline_spark.io.sources import load_table

    ev = load_table(spark, SF_DIR, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # strict micro-second gap, exactly what the state machine compares
    gap_us = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    sess = (
        ev.withColumn(
            "new_session",
            F.when(gap_us.isNull() | (gap_us > GAP_S * 1_000_000), 1).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    last = sess.groupBy("user_id").agg(F.max("session_id").alias("last_sid"))
    mx = ev.agg(F.max("ts").alias("max_ts"))
    ms = lambda c: F.floor(F.unix_micros(c) / 1000)
    emitted = (
        sess.join(last, "user_id")
        .crossJoin(F.broadcast(mx))
        .filter(
            (F.col("session_id") < F.col("last_sid"))
            | (ms(F.col("end_ts")) + GAP_S * 1000 < ms(F.col("max_ts")))
        )
        .select(
            "user_id",
            F.date_format("start_ts", "yyyy-MM-dd HH:mm:ss").alias("session_start_s"),
            F.date_format("end_ts", "yyyy-MM-dd HH:mm:ss").alias("session_end_s"),
            "n_events",
        )
    )
    return {tuple(r) for r in emitted.collect()}


def test_registered_stream_equals_batch_sessionization(spark):
    """Batch == stream on the REGISTERED path at sf0.001: the catalog
    plan (real AvailableNow applyInPandasWithState job over the staged
    micro-batches) emits exactly the batch-derived session set."""
    from counsel_data_pipeline_spark.catalog import all_queries

    q = all_queries()["streaming_closed_sessions_timeout"]
    got = {tuple(r) for r in q.fn(spark, SF_DIR).collect()}
    assert got == _batch_expected(spark)
    assert len(got) > 100  # real coverage, not a degenerate empty match

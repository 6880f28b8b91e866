"""Streaming ≡ batch equivalence: the Structured Streaming windowed
aggregations must produce exactly the batch plans' results when run with
Trigger.AvailableNow over the same files (the reference's cron-micro-batch
execution model, SURVEY §2.10 T4)."""

import os
import tempfile

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.catalog import all_queries
from counsel_data_pipeline_spark.io.sources import load_table
from counsel_data_pipeline_spark.streaming import windows as sw
from counsel_data_pipeline_spark.streaming.microbatch import (
    read_batches,
    run_available_now,
    stage_batches,
)

SF = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_stream_tumbling_equals_batch(spark):
    stream = sw.stream_events(spark, SF)
    assert stream.isStreaming
    result = run_available_now(sw.tumbling_hourly(stream))

    batch = all_queries()["events_tumbling_hourly"].fn(spark, SF)
    cols = ["hour_start", "event_type", "n_events", "sum_value"]
    assert _rows(result, cols) == _rows(batch, cols)


def test_stream_session_windows(spark):
    stream = sw.stream_events(spark, SF)
    result = run_available_now(sw.session_windows_30m(stream))
    rows = result.collect()
    assert len(rows) > 0
    # Per-user session event counts must total the per-user event counts.
    from collections import defaultdict

    per_user = defaultdict(int)
    for r in rows:
        per_user[r["user_id"]] += r["session_events"]
    batch = all_queries()["events_sessionize_30m"].fn(spark, SF)
    expected = {r["user_id"]: r["n_events"] for r in batch.collect()}
    assert dict(per_user) == expected


def test_stateful_first_seen_dedup_matches_batch(spark):
    from counsel_data_pipeline_spark.ops.dedup import first_wins
    from counsel_data_pipeline_spark.streaming import stateful, windows

    sf = "/root/testdata/sf0.001"
    stream = stateful.first_seen_filter(
        windows.stream_events(spark, sf), key_cols=["user_id", "event_type"]
    )
    got = run_available_now(stream, "append")
    got_rows = {
        (r.user_id, r.event_type): r.event_id for r in got.collect()
    }

    batch = load_table(spark, sf, "events")
    exp = first_wins(batch, ["user_id", "event_type"], ["ts", "event_id"])
    exp_rows = {(r.user_id, r.event_type): r.event_id for r in exp.collect()}

    assert got_rows == exp_rows
    assert len(got_rows) >= 50  # sf0.001: ~15 users × 5 event types


def test_stream_sliding_equals_batch(spark):
    batch = all_queries()["events_sliding_6h_daily"].fn(spark, SF)
    stream = sw.sliding_6h_daily(sw.stream_events(spark, SF))
    got = _rows(run_available_now(stream), ["win_start", "n_events", "sum_value"])
    exp = _rows(batch, ["win_start", "n_events", "sum_value"])
    assert got == exp and len(got) > 50


def test_stream_static_join_matches_batch(spark):
    """Stream-static dimension enrichment: streamed result ≡ the same plan
    over the batch reader."""
    user_dim = (
        load_table(spark, SF, "events")
        .select("user_id")
        .distinct()
        .withColumn("tier", F.when(F.col("user_id") % 3 == 0, "gold").otherwise("std"))
    )
    stream = sw.stream_events(spark, SF)
    cols = ["hour_start", "tier", "n_events"]
    got = _rows(
        run_available_now(sw.stream_static_enriched_hourly(stream, user_dim)), cols
    )
    batch_events = load_table(spark, SF, "events")
    want = _rows(sw.stream_static_enriched_hourly(batch_events, user_dim), cols)
    assert got == want


def test_stream_dedup_within_watermark_removes_replays(spark, tmp_path):
    """A source that delivered every file twice (at-least-once replay) must
    come out exactly-once after watermark-bounded streaming dedup."""
    events = load_table(spark, SF, "events")
    dup_dir = str(tmp_path / "dup_events")
    events.write.mode("overwrite").parquet(dup_dir)
    events.write.mode("append").parquet(dup_dir)  # replay: every row twice

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    stream = spark.readStream.schema(schema).parquet(dup_dir)
    deduped = run_available_now(sw.stream_dedup_within_watermark(stream), "append")
    assert deduped.count() == events.count()
    assert deduped.select("event_id").distinct().count() == events.count()


def test_stream_stream_join_matches_batch(spark):
    """Watermarked stream-stream join (purchases x preceding clicks within
    10 min) must equal the identical batch join."""

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    s = sw.stream_events(spark, SF)
    got_df = run_available_now(
        sw.stream_stream_click_purchase_join(*split(s)), "append"
    )
    cols = ["purchase_id", "user_id", "purchase_ts_s", "click_ts_s"]
    got = _rows(got_df, cols)

    b = load_table(spark, SF, "events")
    want = _rows(sw.stream_stream_click_purchase_join(*split(b)), cols)
    assert len(want) > 0
    assert got == want


def test_streaming_incremental_dedup_across_batches(spark, stage_rows, tmp_path):
    """Three micro-batches of documents, duplicates planted across batch
    boundaries: a doc repeating an EARLIER batch's doc must come back
    exact_existing (the store remembers), a doc repeating its own batch
    exact_new, and order of arrival — not doc_id — decides who is 'existing'."""
    from counsel_data_pipeline_spark.streaming.incremental import (
        run_incremental_dedup_stream,
    )

    in_dir = stage_rows(
        [
            [(10, "alpha beta gamma delta"), (11, "one two three four")],
            [(20, "alpha beta gamma delta"),        # dup of batch-0 #10
             (21, "five six seven eight"),
             (22, "five six seven eight")],         # dup of same-batch #21
            [(5, "one two three four"),             # LOWER id, later arrival
             (30, "nine ten eleven twelve")],
        ],
        "doc_id long, text string",
    )
    out = run_incremental_dedup_stream(
        spark, in_dir, str(tmp_path / "work"),
        schema="doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 7  # one verdict per ingested doc
    assert rows[10]["verdict"] == "unique"
    assert rows[20]["verdict"] == "exact_existing" and rows[20]["dup_of"] == 10
    assert rows[21]["verdict"] == "unique"
    assert rows[22]["verdict"] == "exact_new" and rows[22]["dup_of"] == 21
    # arrival order wins: id 5 arrived AFTER id 11's text was stored
    assert rows[5]["verdict"] == "exact_existing" and rows[5]["dup_of"] == 11
    assert rows[30]["verdict"] == "unique"
    # batch ids are recorded in processing order
    assert rows[10]["batch_id"] < rows[20]["batch_id"] < rows[5]["batch_id"]


def test_native_session_window_equals_lag_based_batch(spark):
    """The native session_window batch twin must reproduce the lag-based
    sessionization exactly (same oracle SQL backs both catalog entries).
    Boundary semantics are proven identical by the exact-gap test below, so
    this equality is not relying on the data avoiding the 30-min boundary."""
    lag_based = all_queries()["events_sessionize_30m"].fn(spark, SF)
    native = all_queries()["events_sessionize_native_window"].fn(spark, SF)
    cols = ["user_id", "n_sessions", "max_session_events", "n_events"]
    assert _rows(native, cols) == _rows(lag_based, cols)


def test_session_window_boundary_merges_at_exact_gap(spark):
    """Two events exactly gap-duration apart merge into ONE session in
    Spark's native session_window — matching the lag-based `gap > 1800`
    flag (new session only STRICTLY beyond the gap). Pins the boundary so
    an upstream semantics change in session_window fails here, not as an
    unexplained oracle mismatch."""
    df = (
        spark.createDataFrame(
            [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:30:00"),
             (1, "2024-01-01 01:00:01")],
            "user_id int, ts_s string",
        ).withColumn("ts", F.to_timestamp("ts_s"))
    )
    sessions = df.groupBy(
        F.session_window("ts", "30 minutes"), "user_id"
    ).count().collect()
    # first two merge (exact 1800s gap); third is 1801s after -> new session
    assert sorted(r["count"] for r in sessions) == [1, 2]


def test_streaming_weighted_sample_equals_batch(spark, tmp_path):
    """Split the sf0.001 documents into three micro-batch files: the
    streaming reservoir must equal the batch A-ES top-k over the union —
    the pure-row-function key makes top-k mergeable across batches."""
    from counsel_data_pipeline_spark.ops.curation import es_sample_key
    from counsel_data_pipeline_spark.streaming.sampling import (
        run_weighted_sample_stream,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    batch = F.when(F.col("doc_id") < 17, 0).when(F.col("doc_id") < 34, 1)
    in_dir = stage_batches(
        docs.withColumn("b", batch.otherwise(2)), str(tmp_path / "in"), 3
    )

    got = run_weighted_sample_stream(
        spark,
        in_dir,
        str(tmp_path / "work"),
        schema="doc_id bigint, source string, n_chars bigint",
        k=10,
        seed=777,
    )

    expected = (
        docs.select(
            "doc_id", "source", "n_chars",
            es_sample_key(F.col("doc_id"), F.col("n_chars"), 777).alias("es_key"),
        )
        .orderBy("es_key", "doc_id")
        .limit(10)
    )
    cols = ["doc_id", "source", "n_chars", "es_key"]
    assert _rows(got, cols) == _rows(expected, cols)

    # audit trail: one reservoir snapshot per micro-batch
    snaps = spark.read.parquet(str(tmp_path / "work" / "reservoir"))
    assert snaps.select("batch").distinct().count() == 3


def _event_thirds(spark, tmp_path, *cols):
    """sf0.001 events staged as three ascending (ts, event_id)-range
    micro-batch files."""
    ranked = load_table(spark, SF, "events").select(*cols).withColumn(
        "b", F.ntile(3).over(Window.orderBy("ts", "event_id")) - 1
    )
    return stage_batches(ranked, str(tmp_path / "in"), 3)


def test_streaming_scd2_equals_batch_twin(spark, tmp_path):
    """Split sf0.001 events into three ascending (ts, event_id)-range
    micro-batch files: the stateful SCD2 builder's compacted changelog
    must equal the batch window twin row-for-row — including intervals
    that OPEN in one micro-batch and CLOSE in a later one (the per-user
    open-interval state crossing the batch boundary)."""
    from counsel_data_pipeline_spark.streaming.scd2 import (
        compact_changelog,
        scd2_stateful,
    )

    schema = "event_id bigint, user_id bigint, ts timestamp, event_type string"
    in_dir = _event_thirds(spark, tmp_path, "event_id", "user_id", "ts", "event_type")
    changelog = run_available_now(
        scd2_stateful(read_batches(spark, schema, in_dir)), "append"
    )
    got = compact_changelog(changelog)
    expected = all_queries()["window_scd2_intervals"].fn(spark, SF)
    cols = ["user_id", "event_type", "valid_from_s", "valid_to_s", "is_current"]
    assert _rows(got, cols) == _rows(expected, cols)
    # cross-batch statefulness actually exercised: at least one close
    # (upsert pair) must span micro-batches, i.e. the changelog holds
    # more rows than a single batch could have produced alone
    closes = changelog.filter(F.col("valid_to_s").isNotNull()).count()
    opens = changelog.filter(F.col("valid_to_s").isNull()).count()
    assert closes > 0 and opens > closes  # open rows include current ones


def test_streaming_scd2_raises_on_out_of_order_feed(spark, stage_rows):
    """The determinism contract is enforced, not assumed: a micro-batch
    regressing a user's event-time high-water mark must fail the stream
    loudly (it would otherwise silently emit a wrong interval)."""
    import datetime

    from counsel_data_pipeline_spark.streaming.scd2 import scd2_stateful

    def _ts(minute):
        return datetime.datetime(2024, 1, 1, 10, minute)

    schema = "event_id bigint, user_id bigint, ts timestamp, event_type string"
    in_dir = stage_rows(
        [
            [(1, 7, _ts(0), "view"), (2, 7, _ts(2), "click")],
            # event_id 3 is BEHIND user 7's high-water mark (10:02)
            [(3, 7, _ts(1), "purchase")],
        ],
        schema,
    )
    with pytest.raises(Exception, match="out-of-order SCD2 feed"):
        run_available_now(scd2_stateful(read_batches(spark, schema, in_dir)), "append")


def test_kmeans_cell_stats_stream_equals_batch(spark, tmp_path):
    """Streamed per-cell sufficient statistics must equal a batch
    recompute regardless of how vectors are batched into files, and the
    literal-fold assignment must break distance ties on lowest cid."""
    from counsel_data_pipeline_spark.streaming.kmeans import (
        assign_cell_expr,
        cell_stats_stream,
    )

    cents = [(0, [0, 0]), (1, [1_000_000, 0]), (2, [0, 0])]  # cid 2 dups cid 0
    rows = [
        (1, [0.0, 0.0]),      # dist ties between cid 0 and 2 -> cid 0
        (2, [1.0, 0.0]),      # cid 1
        (3, [0.6, 0.0]),      # nearer cid 1
        (4, [0.1, 0.2]),      # cid 0
    ]
    schema = "vec_id bigint, embedding array<double>"
    df = spark.createDataFrame(rows, schema)
    got = {
        r.vec_id: r.cell
        for r in df.select(
            "vec_id",
            assign_cell_expr(
                cents,
                F.expr(
                    "transform(embedding, x -> CAST(round(x * 1000000, 0) AS BIGINT))"
                ),
            ).alias("cell"),
        ).collect()
    }
    assert got == {1: 0, 2: 1, 3: 1, 4: 0}

    # stream over two different file splits -> identical final stats
    results = []
    for split, part in (("a", 1), ("b", 3)):
        in_dir = str(tmp_path / f"in_{split}")
        df.repartition(part).write.parquet(in_dir)
        out = run_available_now(
            cell_stats_stream(read_batches(spark, schema, in_dir), cents)
        )
        results.append(
            sorted((r.cell, r.pos, r.n_vecs, r.sum_v6) for r in out.collect())
        )
    assert results[0] == results[1]
    # batch recompute: cell 0 holds vecs 1 and 4; cell 1 holds 2 and 3
    stats = {(c, p): (n, s) for c, p, n, s in results[0]}
    assert stats[(0, 0)] == (2, 100_000)       # 0 + 0.1
    assert stats[(0, 1)] == (2, 200_000)       # 0 + 0.2
    assert stats[(1, 0)] == (2, 1_600_000)     # 1.0 + 0.6
    assert (2, 0) not in stats                 # duplicate centroid never wins


def _sessionize(spark, in_dir):
    from counsel_data_pipeline_spark.streaming.sessionize import (
        compact_summaries,
        sessionize_stateful,
    )

    stream = read_batches(
        spark, "event_id bigint, user_id bigint, ts timestamp", in_dir
    )
    return compact_summaries(run_available_now(sessionize_stateful(stream), "append"))


def test_streaming_sessionize_equals_batch_twin(spark, tmp_path):
    """Stateful gap-sessionizer: summaries maintained across micro-batch
    boundaries (sessions spanning files) must equal the batch lag+flag
    plan; exact-gap events merge (strict >); out-of-order batches raise."""
    got = _sessionize(spark, _event_thirds(spark, tmp_path, "event_id", "user_id", "ts"))
    expected = all_queries()["events_sessionize_30m"].fn(spark, SF)
    cols = ["user_id", "n_sessions", "max_session_events", "n_events"]
    assert _rows(got, cols) == _rows(expected, cols)


def test_streaming_sessionize_exact_gap_merges_and_ooo_raises(spark, stage_rows):
    import datetime

    t0 = datetime.datetime(2024, 1, 1, 8, 0, 0)
    schema = "event_id bigint, user_id bigint, ts timestamp"

    # exactly 1800 s gaps across a batch boundary -> ONE session of 3
    d = stage_rows(
        [
            [(1, 7, t0), (2, 7, t0 + datetime.timedelta(seconds=1800))],
            [(3, 7, t0 + datetime.timedelta(seconds=3600))],
        ],
        schema,
        "gap",
    )
    [r] = _sessionize(spark, d).collect()
    assert (r.n_sessions, r.max_session_events, r.n_events) == (1, 3, 3)

    # out-of-order second batch -> loud failure
    d2 = stage_rows(
        [
            [(1, 9, t0 + datetime.timedelta(seconds=60))],
            [(2, 9, t0)],
        ],
        schema,
        "ooo",
    )
    with pytest.raises(Exception, match="out-of-order session feed"):
        _sessionize(spark, d2)


def test_timeout_sessions_gap_timeout_and_open_contract(spark, stage_rows):
    """EventTimeTimeout session closer: (a) an in-stream gap closes with
    reason 'gap'; (b) a user who goes quiet closes with reason 'timeout'
    once OTHER users' events advance the watermark past last_ts + gap;
    (c) a session still open at stream end is NOT emitted (state would
    close it on a later trigger) — the documented contract."""
    import datetime

    from counsel_data_pipeline_spark.streaming.timeout_sessions import (
        closed_sessions_stateful,
    )

    t0 = datetime.datetime(2024, 1, 1, 8, 0, 0)
    mins = lambda m: t0 + datetime.timedelta(minutes=m)
    in_dir = stage_rows(
        [
            # user 1: two events, then silence. user 2 keeps the clock moving.
            [(1, mins(0)), (1, mins(5)), (2, mins(6))],
            # user 1's 5:00-8:05... gap for user 2 closes inline ('gap');
            # watermark reaches mins(90): user 1's (5 + 30) deadline passed
            # -> 'timeout'. user 2's new session stays open.
            [(2, mins(90)), (2, mins(95))],
        ],
        "user_id bigint, ts timestamp",
    )
    stream = read_batches(spark, "user_id bigint, ts timestamp", in_dir)
    out = run_available_now(closed_sessions_stateful(stream, gap_s=1800), "append")
    rows = {(r.user_id, r.close_reason): r for r in out.collect()}
    # user 2's first session (mins 6) closed by the in-batch gap
    g = rows[(2, "gap")]
    assert g.n_events == 1 and g.session_end_s == "2024-01-01 08:06:00"
    # user 1 closed by watermark timeout, full 2-event session intact
    t = rows[(1, "timeout")]
    assert t.n_events == 2
    assert (t.session_start_s, t.session_end_s) == (
        "2024-01-01 08:00:00", "2024-01-01 08:05:00",
    )
    # user 2's second session (mins 90-95) is still open: NOT emitted
    assert len(rows) == 2


def test_runner_leaves_no_checkpoint_behind(spark, stage_rows, tmp_path, monkeypatch):
    """The runner owns its checkpoint: no dir of it is left behind after a
    drained run or after a failed one."""
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    stream = read_batches(spark, "x bigint", stage_rows([[(1,)], [(2,)]], "x bigint"))
    assert sorted(r.x for r in run_available_now(stream, "append").collect()) == [1, 2]

    def fail(batch, batch_id):
        raise ValueError("handler failed")

    with pytest.raises(Exception, match="handler failed"):
        run_available_now(stream, handler=fail)
    assert os.listdir(scratch) == []

"""Stateful streaming sessionizer (applyInPandasWithState) — the stream
twin of the gap-based batch sessionization
(plans/events.events_sessionize_30m / the native session_window twin).

Across an unbounded stream, per-user sessionization needs exactly this
state: the running session summary (session count, current-session event
count, best session so far, total events) plus the (last_ts, last_event)
high-water mark — fixed-size per user. Each micro-batch folds its
(sorted) events into the state; a gap strictly greater than the idle
threshold closes the current session, mirroring the batch twin's
``gap > 1800`` flag (a gap of exactly the threshold merges in BOTH).

Emission model: an UPSERT SUMMARY CHANGELOG — each batch emits the
user's updated summary stamped with a monotonically increasing state
sequence number; the sink compacts last-write-wins per user (max_by
seq), exactly a foreachBatch MERGE into a per-user stats table. With
micro-batches arriving in event-time order (ENFORCED by the same
high-water-mark guard as streaming/scd2.py — an out-of-order batch
raises, never silently splits a session), the compacted output is a
pure function of the data and equals the batch twin, hence its DuckDB
oracle.

Scale: state per user is six longs + one string; each batch emits one
row per user PRESENT in it (not per event), and the state store shards
by user across shuffle partitions.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = (
    "n_sessions bigint, cur_events bigint, max_events bigint, "
    "n_events bigint, last_ts string, last_event bigint, seq bigint"
)
OUT_SCHEMA = (
    "user_id bigint, seq bigint, n_sessions bigint, "
    "max_session_events bigint, n_events bigint"
)


def sessionize_stateful(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Per-user session-summary changelog over a streaming DataFrame with
    (event_id, user_id, ts); compact with :func:`compact_summaries`."""
    gap_us = gap_s * 1_000_000

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user = int(key[0])
        if state.exists:
            (n_sess, cur, mx, n_ev, last_ts, last_event, seq) = state.get
            last_us = pd.Timestamp(last_ts).value // 1000
        else:
            n_sess, cur, mx, n_ev, seq = 0, 0, 0, 0, 0
            last_ts, last_event, last_us = None, None, None
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        first = next(pdf.itertuples(index=False))
        first_key = (
            pd.Timestamp(first.ts).strftime("%Y-%m-%d %H:%M:%S.%f"),
            int(first.event_id),
        )
        if last_ts is not None and first_key <= (last_ts, last_event):
            raise ValueError(
                f"out-of-order session feed for user {user}: event "
                f"{first_key} at/behind high-water mark ({last_ts}, "
                f"{last_event}); reorder upstream or use the batch twin"
            )
        for r in pdf.itertuples(index=False):
            t_us = pd.Timestamp(r.ts).value // 1000
            if last_us is None:
                n_sess, cur = 1, 1
            elif t_us - last_us > gap_us:  # strict >: exact-gap merges
                mx = max(mx, cur)
                n_sess, cur = n_sess + 1, 1
            else:
                cur += 1
            n_ev += 1
            last_us = t_us
        last = pdf.iloc[-1]
        last_ts = pd.Timestamp(last["ts"]).strftime("%Y-%m-%d %H:%M:%S.%f")
        last_event = int(last["event_id"])
        seq += 1
        state.update((n_sess, cur, mx, n_ev, last_ts, last_event, seq))
        yield pd.DataFrame(
            [(user, seq, n_sess, max(mx, cur), n_ev)],
            columns=[
                "user_id", "seq", "n_sessions", "max_session_events", "n_events",
            ],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def compact_summaries(changelog: DataFrame) -> DataFrame:
    """Last-write-wins per user: the newest state sequence IS the final
    summary (seq is per-user monotone by construction)."""
    latest = changelog.groupBy("user_id").agg(
        F.max_by(
            F.struct("n_sessions", "max_session_events", "n_events"),
            F.col("seq"),
        ).alias("s")
    )
    return latest.select(
        "user_id",
        F.col("s.n_sessions").alias("n_sessions"),
        F.col("s.max_session_events").alias("max_session_events"),
        F.col("s.n_events").alias("n_events"),
    )

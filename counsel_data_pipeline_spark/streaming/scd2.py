"""Stateful streaming SCD2 builder (applyInPandasWithState).

The batch twin (plans/window.window_scd2_intervals) derives each user's
full validity history from the change stream with two windows on one
shuffle. Across an UNBOUNDED stream the same operator needs per-key
state: each user's OPEN interval — tracked attribute, valid_from, and
the opening event id. That is a 3-field GroupState per user, updated per
micro-batch.

Emission model is the SCD2 UPSERT CHANGELOG a warehouse sink expects:
  - when an interval opens  → emit (user, type, valid_from, valid_to=NULL)
  - when it closes          → emit the SAME interval with valid_to set
The sink compacts last-write-wins per interval identity (user_id,
opening event_id) — exactly a foreachBatch MERGE into a dimension table;
here the compaction is one groupBy over the appended changelog
(``F.max`` skips NULLs, so a close-update supersedes its open row).

Determinism contract: micro-batches arrive in event-time order per user
(the staged ascending-(ts, event_id)-range input guarantees it at test
scale; a production CDC feed is already arriving in commit order). Under
that contract the compacted output is a pure function of the data —
identical to the batch twin and therefore to its DuckDB oracle.

The contract is ENFORCED, not assumed: state additionally holds the
high-water mark (last_ts, last_event) per user, and an event at or
before it raises rather than silently emitting a wrong interval — the
same fail-loud posture as the cluster-CC non-convergence guard. A feed
that can genuinely deliver late data should be windowed/reordered
upstream (or use the order-free batch twin over a bounded replay).

Scale notes: state per user is two strings + one long — fixed, tiny; the
state store shards by user across shuffle partitions. Each micro-batch
touches only the users present in it, and each emitted row is
interval-sized, not event-sized (unchanged attributes produce nothing).
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = (
    "open_type string, open_from string, open_event bigint, "
    # per-user event-time high-water mark enforcing the in-order contract;
    # last_ts is microsecond-ISO so string compare == timestamp compare
    "last_ts string, last_event bigint"
)
CHANGELOG_SCHEMA = (
    "user_id bigint, open_event bigint, event_type string, "
    "valid_from_s string, valid_to_s string"
)
OUT_SCHEMA = (
    "user_id bigint, event_type string, valid_from_s string, "
    "valid_to_s string, is_current boolean"
)


def scd2_stateful(events: DataFrame) -> DataFrame:
    """Per-user SCD2 changelog over a streaming DataFrame with columns
    (event_id, user_id, ts, event_type). Emits upsert rows keyed by
    (user_id, open_event); compact with :func:`compact_changelog`."""

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user = int(key[0])
        if state.exists:
            open_type, open_from, open_event, last_ts, last_event = state.get
        else:
            open_type, open_from, open_event = None, None, None
            last_ts, last_event = None, None
        out: list[tuple] = []
        # concat then ONE sort: Arrow chunk order within a micro-batch is
        # arbitrary (same pitfall the EWMA operator documents)
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            # In-order contract enforcement: the batch is sorted, so only
            # its FIRST event can regress the stored high-water mark.
            first = next(pdf.itertuples(index=False))
            first_key = (
                pd.Timestamp(first.ts).strftime("%Y-%m-%d %H:%M:%S.%f"),
                int(first.event_id),
            )
            if last_ts is not None and first_key <= (last_ts, last_event):
                raise ValueError(
                    f"out-of-order SCD2 feed for user {user}: event "
                    f"{first_key} arrived at/behind high-water mark "
                    f"({last_ts}, {last_event}); reorder the feed upstream "
                    "or use the order-free batch twin"
                )
            last = pdf.iloc[-1]
            last_ts = pd.Timestamp(last["ts"]).strftime("%Y-%m-%d %H:%M:%S.%f")
            last_event = int(last["event_id"])
            for r in pdf.itertuples(index=False):
                t = pd.Timestamp(r.ts).strftime("%Y-%m-%d %H:%M:%S")
                typ = str(r.event_type)
                if open_type is None:
                    open_type, open_from, open_event = typ, t, int(r.event_id)
                    out.append((user, open_event, typ, t, None))
                elif typ != open_type:
                    # close-update for the interval held in state...
                    out.append((user, open_event, open_type, open_from, t))
                    # ...and the new open interval
                    open_type, open_from, open_event = typ, t, int(r.event_id)
                    out.append((user, open_event, typ, t, None))
        if open_type is not None:
            state.update(
                (open_type, open_from, int(open_event), last_ts, last_event)
            )
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "user_id", "open_event", "event_type",
                    "valid_from_s", "valid_to_s",
                ],
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=CHANGELOG_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def compact_changelog(changelog: DataFrame) -> DataFrame:
    """Last-write-wins MERGE of the SCD2 upsert changelog into the
    dimension view: per interval identity (user_id, opening event id) the
    close-update's valid_to supersedes the open row's NULL (``F.max``
    skips NULLs); an interval never closed is the user's current row."""
    return (
        changelog.groupBy("user_id", "open_event")
        .agg(
            # every changelog row of one interval identity carries the SAME
            # event_type (open and close both emit the opening type), so
            # max() is "the value", not a tiebreak
            F.max("event_type").alias("event_type"),
            F.max("valid_from_s").alias("valid_from_s"),
            F.max("valid_to_s").alias("valid_to_s"),
        )
        .select(
            "user_id",
            "event_type",
            "valid_from_s",
            "valid_to_s",
            F.col("valid_to_s").isNull().alias("is_current"),
        )
    )

"""Event-time-timeout session CLOSER — the push-based complement of the
summary-maintaining sessionizer (streaming/sessionize.py).

The summary twin answers "what are each user's session stats so far";
this operator answers "tell me the moment a session CLOSES", the shape a
downstream alerting/billing consumer wants. A session closes two ways:

- **gap**: a later event of the same user arrives more than ``gap_s``
  after the session's last event (detected inline, any batch);
- **timeout**: no event arrives and the WATERMARK passes
  ``last_ts + gap_s`` — detected via ``GroupStateTimeout.EventTimeTimeout``:
  the state registers ``setTimeoutTimestamp(last_ts + gap_s)`` and Spark
  invokes the function with ``state.hasTimedOut`` once the watermark
  crosses it, with no input rows for the key.

Both paths emit (user_id, session_start_s, session_end_s, n_events,
close_reason). A session still open when the stream stops is NOT
emitted — that is the operator's contract (state outlives the run and
would close on a later trigger), which the tests document explicitly.

Emission timing depends on watermark progression, i.e. on how rows are
batched — so this operator is pytest-verified (deterministic staged
batches), not a driver-oracle query: catalog queries must be pure
functions of the data alone.

Scale: state per user is one open session (three longs + a string);
timed-out state is removed, so idle users cost nothing after one gap.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "start_ts string, last_ts string, n_events bigint"
OUT_SCHEMA = (
    "user_id bigint, session_start_s string, session_end_s string, "
    "n_events bigint, close_reason string"
)
# state keeps FULL microsecond precision (truncating would mis-split
# sessions whose true gap straddles the threshold by <1s — the bug the
# sibling sessionize.py avoids the same way); emission truncates for
# display only.
_STATE_FMT = "%Y-%m-%d %H:%M:%S.%f"


def _disp(ts_s: str) -> str:
    return ts_s[:19]  # "...HH:MM:SS.ffffff" -> second precision


def closed_sessions_stateful(
    events: DataFrame, gap_s: int = 1800, watermark_delay: str = "0 seconds"
) -> DataFrame:
    """Emit closed sessions over a streaming (user_id, ts) frame. The
    event-time watermark drives the timeout path; ``watermark_delay`` is
    the lateness allowance (0 for the in-order staged tests)."""
    gap_ms = gap_s * 1000

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user = int(key[0])
        out: list[tuple] = []

        if state.hasTimedOut:
            # watermark passed last_ts + gap with no new rows: close
            start_ts, last_ts, n = state.get
            out.append((user, _disp(start_ts), _disp(last_ts), int(n), "timeout"))
            state.remove()
            yield pd.DataFrame(out, columns=_out_cols())
            return

        if state.exists:
            start_ts, last_ts, n = state.get
            last_us = pd.Timestamp(last_ts).value // 1000
        else:
            start_ts, last_ts, last_us, n = None, None, None, 0

        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts"])
            for r in pdf.itertuples(index=False):
                t_us = pd.Timestamp(r.ts).value // 1000
                t_s = pd.Timestamp(r.ts).strftime(_STATE_FMT)
                if last_us is None:
                    start_ts, n = t_s, 1
                elif t_us - last_us > gap_s * 1_000_000:
                    out.append((user, _disp(start_ts), _disp(last_ts), int(n), "gap"))
                    start_ts, n = t_s, 1
                else:
                    n += 1
                last_us, last_ts = t_us, t_s
        if start_ts is not None:
            state.update((start_ts, last_ts, int(n)))
            # register the close deadline in EVENT time; Spark re-invokes
            # with hasTimedOut once the watermark crosses it
            state.setTimeoutTimestamp(last_us // 1000 + gap_ms)
        if out:
            yield pd.DataFrame(out, columns=_out_cols())

    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _out_cols() -> list[str]:
    return [
        "user_id", "session_start_s", "session_end_s", "n_events", "close_reason",
    ]

"""Stateful streaming EWMA (applyInPandasWithState).

The batch twin (plans/window.window_ewma_user_value) computes a per-user
finite-horizon EWMA (integer decay weights over the trailing N events)
as one WindowExec pass. Across an unbounded stream the same operator
needs per-key state: the last N-1 observed values. That is a bounded
Arrow-typed GroupState — ``hist array<bigint>`` of at most N-1 integer
micro-unit values per user — updated per micro-batch, which is exactly
the shape ``applyInPandasWithState`` exists for.

Determinism contract: micro-batches must arrive in event-time order per
user (the staged ascending-ts-range input guarantees it at test scale; a
production ingest is already arriving in time order). Under that
contract the emitted EWMA values are a pure function of the data —
identical to the batch window and therefore to the batch query's DuckDB
oracle.

Scale notes: state per user is ≤ (N-1) BIGINTs — fixed, tiny; the state
store shards by user across shuffle partitions. Each micro-batch touches
only the users present in it. NoTimeout keeps exact parity with the
batch window; a bounded-retention variant would swap in
EventTimeTimeout and re-seed late users from storage.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "hist array<bigint>"
OUT_SCHEMA = (
    "event_id bigint, user_id bigint, ts_s string, "
    "ewma_value double, deviation double"
)


def ewma_stateful(events: DataFrame, weights: list[int]) -> DataFrame:
    """Per-user streaming EWMA over a streaming DataFrame with columns
    (event_id, user_id, ts, value). Emits one row per input row with the
    same ewma/deviation arithmetic as the batch window twin: value on a
    1e-6 integer grid, integer decay weights, one raw float division at
    the end (never rounded — integer ratios tie at rounding grids)."""
    n = len(weights)
    dens = [sum(weights[: k + 1]) for k in range(n)]

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        hist: list[int] = list(state.get[0]) if state.exists else []
        out: list[tuple] = []
        # Arrow hands the micro-batch as MULTIPLE record batches (default
        # maxRecordsPerBatch=10000) in arbitrary relative order — sorting
        # each chunk independently would fold rows into the EWMA state out
        # of time order once a user's batch spans chunks. Concatenate
        # first, sort ONCE, then fold.
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            for r in pdf.itertuples(index=False):
                # int(round()) on a near-integer double (value has coarse
                # decimals; *1e6 lands within 1 ulp of an integer) — tie
                # mode can't matter, same grid as the batch twin
                v6 = int(round(float(r.value) * 1_000_000))
                hist.append(v6)
                if len(hist) > n:
                    hist = hist[-n:]
                lags = hist[::-1]
                num = sum(v * w for v, w in zip(lags, weights))
                den = dens[len(lags) - 1]
                # raw IEEE quotient (int->double casts then one divide),
                # mirroring the batch twin exactly — no rounding anywhere,
                # so engine/python tie-splitting can never diverge
                ewma = float(num) / float(den * 1_000_000)
                out.append(
                    (
                        int(r.event_id),
                        int(r.user_id),
                        pd.Timestamp(r.ts).strftime("%Y-%m-%d %H:%M:%S"),
                        ewma,
                        float(r.value) - ewma,
                    )
                )
        # keep at most n-1 values: the next row's EWMA uses them as lags
        # (n == 1 needs the explicit empty list — [-0:] would keep all n)
        lags_kept = hist[-(n - 1):] if n > 1 else []
        state.update(([int(x) for x in lags_kept],))
        if out:
            yield pd.DataFrame(
                out,
                columns=["event_id", "user_id", "ts_s", "ewma_value", "deviation"],
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

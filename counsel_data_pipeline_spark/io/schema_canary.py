"""Physical-schema contract for the driver testdata.

Single source of truth consumed by BOTH tests/test_schema_canary.py and
bench.py's startup check: round 4's testdata regeneration (events.ts →
timestamp[us]/TIMESTAMP_NTZ) crashed the bench mid-run with an opaque
AnalysisException; this module turns the next drift into one pointed
message at the earliest possible moment. Footer reads only (pyarrow) —
no Spark session, microseconds per table.
"""

from __future__ import annotations

import os

# Known-good physical variants for time-carrying columns; the one load
# boundary (io/sources.load_table) normalizes exactly this set, and streams
# read its normalized rows.
TS_VARIANTS = {
    "int64",              # TIMESTAMP(NANOS) read as a long by load_table
    "timestamp[ns]",      # raw nanos footer type
    "timestamp[us]",      # micros, no tz -> Spark TIMESTAMP_NTZ (r4 drift)
    "timestamp[us, tz=UTC]",
}

# Exact expected footer schema per table; "TS" = any member of TS_VARIANTS.
EXPECTED: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int32", "r_name": "string"},
    "nation": {"n_nationkey": "int32", "n_name": "string", "n_regionkey": "int32"},
    "customer": {
        "c_custkey": "int64",
        "c_name": "string",
        "c_nationkey": "int32",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "int64",
        "s_name": "string",
        "s_nationkey": "int32",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "int64",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int32",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "int64",
        "o_custkey": "int64",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "TS",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "int64",
        "l_partkey": "int64",
        "l_suppkey": "int64",
        "l_linenumber": "int32",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "TS",
    },
    "events": {
        "event_id": "int64",
        "ts": "TS",
        "user_id": "int64",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "int64",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "int64",
    },
    "embeddings": {
        "vec_id": "int64",
        "embedding": "list<element: float>",
        "label": "int32",
    },
}


def check_dir(sf_dir: str) -> list[str]:
    """Return a list of human-readable drift diagnostics (empty = clean).
    Missing files are skipped (partial testdata dirs are legal)."""
    import pyarrow.parquet as pq

    problems: list[str] = []
    for table, expected in EXPECTED.items():
        path = os.path.join(sf_dir, f"{table}.parquet")
        if not os.path.exists(path):
            continue
        actual = {f.name: str(f.type) for f in pq.read_schema(path)}
        if set(actual) != set(expected):
            problems.append(
                f"{table}.parquet columns changed: expected {sorted(expected)}, "
                f"got {sorted(actual)}"
            )
            continue
        for col, want in expected.items():
            got = actual[col]
            ok = got in TS_VARIANTS if want == "TS" else got == want
            if not ok:
                allow = f"one of {sorted(TS_VARIANTS)}" if want == "TS" else repr(want)
                problems.append(
                    f"{table}.{col} is physically '{got}', engine expects {allow} "
                    f"— fix at io/sources.load_table, then update "
                    f"counsel_data_pipeline_spark/io/schema_canary.py"
                )
    return problems

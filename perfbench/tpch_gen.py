"""Seeded TPC-H-style tables for the catalog workloads.

Same schema, types and value domains as the repo's seeded test tables
(TESTDATA.md, FIXTURES.md §2): uniform keys, the five region names,
``NATION_<i>`` nations, ``Brand#1..25``, six part types, dates from 1995 to
2001, prices on a cents grid. Row counts follow TPC-H at scale factor
``sf`` (lineitem = 600,000 × sf). Only the tables the catalog queries of the
workload read are written.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_ADJ = ("blue", "old", "small", "new", "red", "hot", "large", "cold")
_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, (hi - lo).astype(int) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int, sf: float) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(20_000 * sf)
    n_ord, n_li = int(150_000 * sf), int(600_000 * sf)

    def keyed(prefix: str, n: int) -> pa.Array:
        return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": keyed("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": keyed("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(
                    np.asarray(_ADJ)[rng.integers(0, 8, n_part)],
                    np.asarray(_NOUN)[rng.integers(0, 8, n_part)],
                )],
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(rng.integers(9000, 10000, n_part) / 10.0, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        }),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")

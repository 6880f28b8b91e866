"""The engine counters the traced run reports repeat exactly.

Two traced runs of every tpch_olap query on the same seeded tables; the
stage counts and shuffle bytes of q3 and q18 must be equal. The variation
of every query's counters is printed, not hidden: AQE may legitimately
re-plan a query between runs. Run from the checkout root:

    python3 -m pytest perfbench/test_counters.py -s
"""

from __future__ import annotations

import os
import shutil

import pytest

import run as bench  # perfbench/run.py: the load and paths the benchmark uses
import worker
from probe import Tracer

PINNED = ("tpch_q3_shipping_priority", "tpch_q18_large_volume")
COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_records", "input_bytes")


@pytest.fixture(scope="module")
def traced_twice():
    os.environ.update(bench.SPARK_ENV)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (bench.ROOT, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(bench.ROOT, ".perfbench_work", f"test-{os.getpid()}")
    sf_dir = os.path.join(work, "tables")
    worker.tpch_gen.generate(sf_dir, 7, worker.CATALOG_SF)
    spark = worker.get_spark("perfbench-test")
    queries = worker.all_queries()
    runs = []
    try:
        for _ in range(2):
            tracer = Tracer(spark)
            runs.append({
                n: worker._traced_query(spark, tracer, queries[n], sf_dir)[1]
                for n in worker.TPCH_OLAP
            })
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return runs


def test_counter_variation_is_reported(traced_twice):
    first, second = traced_twice
    print(f"\n{'query':34} " + " ".join(f"{c:>22}" for c in COUNTERS))
    for n in worker.TPCH_OLAP:
        cells = [f"{first[n][c]}" + ("" if first[n][c] == second[n][c] else f"->{second[n][c]}")
                 for c in COUNTERS]
        print(f"{n:34} " + " ".join(f"{c:>22}" for c in cells))
    assert set(first) == set(second) == set(worker.TPCH_OLAP)


@pytest.mark.parametrize("name", PINNED)
def test_pinned_counters_repeat(traced_twice, name):
    first, second = traced_twice
    for c in ("stages", "shuffle_write_bytes", "shuffle_read_bytes"):
        assert first[name][c] == second[name][c], (name, c, first[name][c], second[name][c])
    assert first[name]["shuffle_write_bytes"] > 0

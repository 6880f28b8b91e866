"""Benchmark harness — runs the headline queries and prints one JSON line.

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 python bench.py

One pass, no options: warm up the session, time each catalog query tagged
``bench=True`` best-of-2 (plan + execute through the noop sink, with
``spark.catalog.clearCache()`` between runs), time the ``bench-write``
section, write the full record to bench_last_detail.json and print one
compact JSON line on stdout.

This script keeps its one-line stdout contract; it does not decide
whether a change is faster. That is perfbench/run.py's job: it runs
seeded, interleaved parent/change pairs and judges them against the fixed
bounds in BENCHMARK.json, so host load shows up as spread, not as a
verdict.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from counsel_data_pipeline_spark.catalog import all_queries
from counsel_data_pipeline_spark.io.sources import load_table
from counsel_data_pipeline_spark.session import get_spark

# The caller keeps the last 2000 chars of stdout and the headline is the
# final stdout write, so the whole line parses iff it fits that tail
# (earlier stdout noise can only scroll off the FRONT of the tail). 1985
# leaves room for the trailing newline plus slack.
HEADLINE_BUDGET = 1985


def warm_up(spark, sf_dir: str) -> None:
    """Warm the JVM, parquet footer cache and execution machinery so the
    first timed query does not pay session start-up. A failed step only
    shifts timings, so it is reported on stderr and never aborts."""

    def _warm(fn) -> None:
        try:
            fn()
        except Exception as exc:  # noqa: BLE001
            print(f"# warmup failed: {type(exc).__name__}: {exc}", file=sys.stderr)

    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # Both fact tables (events goes through load_table for the nanos-
    # timestamp conf) ...
    _warm(lambda: spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count())
    _warm(lambda: load_table(spark, sf_dir, "events").count())
    # ... documents/embeddings too: the alphabetically-first timed queries
    # are documents-family, and an unwarmed footer/scan showed up as a fake
    # ~2x on curation_hash_split in the r3 clean run.
    _warm(lambda: spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count())
    _warm(lambda: spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).count())
    # ... and the execution machinery itself: one cheap aggregate through
    # whole-stage codegen + the noop sink, and one trivial Arrow exchange to
    # spawn the Python worker pool — so the first timed query of whichever
    # family doesn't pay JIT/codegen/worker-fork cost (round-2 bench showed
    # fake 2-4x swings on whatever ran first).
    _warm(lambda: _noop(all_queries()["tpch_q6_forecast_revenue"].fn(spark, sf_dir)))
    _warm(lambda: _noop(spark.range(64).mapInPandas(lambda it: it, "id long")))
    # ... and the GROUPED-map Arrow path specifically: mapInPandas alone
    # leaves the first applyInPandas query paying worker/exchange spin-up
    # (r14 measured dedup_embedding_cosine_topn at 3-7x wall on its first
    # runs with the host 94% idle; a clean A/B with this warm cut its
    # best-of-2 9.6s -> 3.7s). Two iterations of a trivial 32-group
    # applyInPandas, ~3s total.
    for _ in range(2):
        _warm(lambda: _noop(spark.range(4096)
                            .withColumn("g", F.col("id") % 32)
                            .groupBy("g")
                            .applyInPandas(lambda pdf: pdf, "id long, g long")))


def time_noop(spark, fn, sf_dir: str) -> float:
    """Seconds for one build + full execution of ``fn(spark, sf_dir)``.

    The noop sink forces FULL evaluation uniformly: count() on wide
    results would let Catalyst prune unused aggregate expressions, and
    collect() adds driver-transfer cost only for narrow ones. The cache is
    cleared afterwards, also on failure, because several plans persist()
    intermediates: every timing stays a cold execution with respect to
    them (only JVM/codegen stays warm, the steady state a cluster runs in)
    and executor storage does not accumulate."""
    t0 = time.time()
    try:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)
    finally:
        spark.catalog.clearCache()


def headline_line(
    per_query: dict[str, float],
    total: float,
    sf: float | None,
    floors: dict[str, float],
    errors: dict[str, str],
) -> str:
    """The compact stdout line, at most HEADLINE_BUDGET chars.

    Required fields only, per-query seconds at 2dp, no separator spaces.
    ``floor_pct`` is each query's integer percent of its committed floor
    (106 = 1.06x), positional with the ``queries`` key order (a second
    name-keyed map would double the line past the capture tail), capped at
    999, null where no floor exists. An overlong line degrades
    deterministically — first without floor_pct (derivable from
    bench_floors.json), then without the per-query map — because a line
    cut mid-JSON parses to nothing."""
    headline: dict = {
        "metric": "bench_total_headline_queries",
        "value": total,
        "unit": "sec",
        "queries": {n: round(t, 2) for n, t in per_query.items()},
        "sf": sf,
        "floor_pct": [
            min(999, int(round(100 * t / floors[n]))) if floors.get(n) else None
            for n, t in per_query.items()
        ],
    }
    if errors:
        headline["errors"] = {n: e[:80] for n, e in errors.items()}
    line = json.dumps(headline, separators=(",", ":"))
    if len(line) <= HEADLINE_BUDGET:
        return line
    print(f"# WARNING: headline {len(line)} chars exceeds the capture "
          "tail — dropping floor_pct (recompute from bench_floors.json)",
          file=sys.stderr)
    headline.pop("floor_pct")
    line = json.dumps(headline, separators=(",", ":"))
    if len(line) <= HEADLINE_BUDGET:
        return line
    # The per-query map lives in bench_last_detail.json regardless. Failing
    # query NAMES are the one thing the detail file may not preserve on a
    # crashed run, so carry as many as fit.
    print(f"# WARNING: full headline {len(line)} chars exceeds the "
          "2000-char capture tail — emitting compact form; "
          "per-query map is in bench_last_detail.json", file=sys.stderr)
    compact: dict = {
        "metric": headline["metric"],
        "value": total,
        "unit": "sec",
        "queries": {},
        "n_queries": len(per_query),
        "sf": sf,
    }
    if errors:
        compact["n_errors"] = len(errors)
        kept: list[str] = []
        for name in sorted(errors):
            kept.append(name)
            compact["err_q"] = kept
            if len(json.dumps(compact, separators=(",", ":"))) > HEADLINE_BUDGET:
                kept.pop()
                break
    return json.dumps(compact, separators=(",", ":"))


def main(argv: list[str] | None = None) -> None:
    # No options: the parser only makes a stale flag (e.g. the retired
    # --until-quiet) fail loudly. argv=None (library/test callers) means
    # "no flags": pytest's own sys.argv must not leak into it.
    argparse.ArgumentParser(description=__doc__).parse_args(
        argv if argv is not None else [])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = None

    # Schema-drift canary FIRST (footer reads only, no Spark): round 4's
    # testdata regeneration crashed the bench mid-run with an opaque
    # AnalysisException; this turns the next drift into a pointed message
    # before a single query runs. Diagnostics go to stderr; the bench
    # still proceeds — per-query try/except records which queries the
    # drift actually breaks.
    from counsel_data_pipeline_spark.io.schema_canary import check_dir

    for problem in check_dir(sf_dir):
        print(f"# TESTDATA DRIFT: {problem}", file=sys.stderr)

    spark = get_spark("bench")
    # Fixed alphabetical order: catalog order rotates per round (driver
    # verification window), which would otherwise reshuffle which query
    # absorbs residual warm-up and make per-round deltas uninterpretable.
    queries = {n: q for n, q in sorted(all_queries().items()) if q.bench}
    warm_up(spark, sf_dir)

    # Reference floors (quiet-machine minima, maintained per round) only
    # annotate the result as floor_pct/floor_ratio; they never change a
    # measurement.
    floors_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "bench_floors.json")
    try:
        with open(floors_path) as fh:
            floors: dict[str, float] = json.load(fh)
    except Exception:
        floors = {}

    per_query: dict[str, float] = {}
    first_run: dict[str, float] = {}
    errors: dict[str, str] = {}
    t_all = time.time()
    for name, q in queries.items():
        # Best-of-2 per query: the r5 official artifact recorded a 358s
        # total that an identical-code quiet-machine rerun measured at
        # 53s — a single host CPU-steal stall poisoned the round's number
        # because one run WAS the artifact. The minimum is the code's real
        # cost; the first run is kept separately so cold-plan cost stays
        # observable.
        times: list[float] = []
        for _ in range(2):
            # One broken plan must cost one entry, not the whole bench:
            # the r4 bench produced NOTHING because a single query threw
            # at plan time. A query whose first run succeeded and whose
            # second run raised stays in per_query AND errors.
            try:
                times.append(time_noop(spark, q.fn, sf_dir))
            except Exception as exc:  # noqa: BLE001 — record and keep benching
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
                break
        if times:
            per_query[name] = min(times)
            first_run[name] = times[0]
            print(f"# {name}: {per_query[name]}s (runs: {times})", file=sys.stderr)
    wall = round(time.time() - t_all, 3)
    total = round(sum(per_query.values()), 3)

    # Write-path section (r8 verdict ask #8): the three materializing
    # queries — Z-order rewrite, bucketed dedup-store build, date-
    # partitioned ingest — tracked OUTSIDE the headline total so their
    # cost trend is visible without polluting the read-query set. Each
    # runs twice: cold (reset() drops the materialized layout, so the
    # timing includes the write) and warm (layout exists — the pruned
    # read every later query pays). Cold minus warm ≈ the amortized
    # rewrite cost.
    write_queries: dict[str, dict[str, float]] = {}
    for name, q in sorted(all_queries().items()):
        if "bench-write" not in q.tags:
            continue
        rec: dict[str, float] = {}
        try:
            if q.reset is not None:
                q.reset(spark, sf_dir)
            rec["cold_write_sec"] = time_noop(spark, q.fn, sf_dir)
            rec["warm_read_sec"] = time_noop(spark, q.fn, sf_dir)
        except Exception as exc:  # noqa: BLE001 — record and keep benching
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
        if rec:
            write_queries[name] = rec
            print(f"# {name}: write-path {rec}", file=sys.stderr)

    # stdout carries only the compact headline (the caller captures a
    # 2000-char tail; BENCH_r09.json recorded parsed:null when a ~4KB
    # record overflowed it). The full-precision record goes to a
    # repo-local file, which is what the committed BENCH_LOCAL_r{N}.json
    # artifacts carry.
    detail = {
        "metric": "bench_total_headline_queries",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": sf_num,
        # diagnostics: first (cold) run per query and loop wall time
        # (~2x the total since every query runs twice)
        "first_run": first_run,
        "wall_sec": wall,
        "write_queries": write_queries,
        "floor_ratio": {
            n: round(t / floors[n], 3)
            for n, t in per_query.items() if floors.get(n)
        },
    }
    if errors:
        detail["errors"] = errors
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_last_detail.json"
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
        print(f"# full record written to {detail_path}", file=sys.stderr)
    except OSError as exc:
        print(f"# could not write {detail_path}: {exc}", file=sys.stderr)

    print(headline_line(per_query, total, sf_num, floors, errors))


if __name__ == "__main__":
    main(sys.argv[1:])

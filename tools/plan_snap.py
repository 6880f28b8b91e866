"""Capture .explain("formatted") and isolated noop timings for queries.

Usage:
    python tools/plan_snap.py --suffix before --sf /root/testdata/sf0.1 \
        graph_pagerank_copurchase dedup_jaccard_prefix_filter ...

Writes <out-dir>/<query>_<suffix>.txt (the formatted physical plan) and
prints per-query best-of-N noop timings as one JSON line, so before/after
plan and timing evidence comes from one reproducible command.

Plans are captured AFTER the timing runs (same session), so AQE-visible
artifacts (materialized sketches, persisted intermediates) reflect the
executed query; warm-up and each timed run are bench.py's own
(``warm_up``, ``time_noop``: noop sink, spark.catalog.clearCache() after
every run), taken best-of-N.
tools/core_scaling_probe.py reuses this timing path at two core counts.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_noop, warm_up
from counsel_data_pipeline_spark.catalog import all_queries
from counsel_data_pipeline_spark.session import get_spark


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("names", nargs="+")
    p.add_argument("--suffix", default="before")
    p.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                  "/root/testdata/sf0.1"))
    p.add_argument("--runs", type=int, default=3)
    p.add_argument("--out-dir", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "r16"))
    p.add_argument("--no-time", action="store_true",
                   help="capture plans only (no timed runs)")
    args = p.parse_args()
    os.makedirs(args.out_dir, exist_ok=True)

    spark = get_spark("plan-snap")
    qs = all_queries()
    warm_up(spark, args.sf)

    timings: dict[str, float] = {}
    runs_all: dict[str, list[float]] = {}
    for name in args.names:
        q = qs[name]
        spark.sparkContext.setJobDescription(f"plan_snap:{name}")
        times = []
        if not args.no_time:
            times = [time_noop(spark, q.fn, args.sf) for _ in range(args.runs)]
            timings[name] = min(times)
            runs_all[name] = times
        # plan AFTER execution: persisted frames show as InMemoryRelation
        # exactly as the benched run sees them on its second run
        df = q.fn(spark, args.sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(args.out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — {args.suffix} — sf_dir={args.sf}\n")
            if times:
                fh.write(f"# noop timings (s): {times}\n")
            fh.write(buf.getvalue())
        spark.catalog.clearCache()
        print(f"# wrote {path}", file=sys.stderr)
    print(json.dumps({"suffix": args.suffix,
                      "timings": timings, "runs": runs_all}))


if __name__ == "__main__":
    main()

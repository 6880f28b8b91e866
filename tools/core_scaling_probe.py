"""Core-scaling probe: time named queries at two core counts on one
sf-layout directory (typically the tools/scale_synth.py output) and
print the low/high-core speed ratios — the parallelism evidence the
sf0.1 bench cannot produce (its 0.2–6 s queries are overhead-bound; the
r16 verdict's ask #6).

Each core count runs tools/plan_snap.py in its own subprocess (fresh
JVM, ``local[N]`` via SPARK_GRAFT_CPUS, same session factory as the
bench), which times each query with the noop sink best-of-``--runs``
after its scan+codegen warmup; the parent prints one JSON line:

  {"sf_dir": ..., "cpus": [8, 32], "queries": {name:
      {"t8": s, "t32": s, "ratio": t8/t32}, ...}}

ratio >> 1 on a heavy query = the plan genuinely parallelizes; ratio
~= 1 = serial or overhead-bound at this size (diagnose before claiming
scale).

  python tools/core_scaling_probe.py --sf /tmp/sf_synth \
      graph_pagerank_copurchase dedup_containment_prefix_filter ...
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_at(cpus: int, sf_dir: str, names: list[str], runs: int) -> dict:
    """Best-of-``runs`` noop seconds per query from one tools/plan_snap.py
    run in a fresh JVM at ``cpus`` cores; its plan dumps go to a
    throwaway directory."""
    with tempfile.TemporaryDirectory(prefix="core-scaling-probe-") as out:
        res = subprocess.run(
            [sys.executable, os.path.join(_REPO, "tools", "plan_snap.py"),
             "--sf", sf_dir, "--runs", str(runs), "--out-dir", out, *names],
            env=dict(os.environ, SPARK_GRAFT_CPUS=str(cpus)),
            capture_output=True, text=True,
        )
    for line in reversed(res.stdout.splitlines()):
        if line.startswith("{"):
            return json.loads(line)["timings"]
    raise RuntimeError(
        f"probe at {cpus} cores produced no result:\n{res.stderr[-2000:]}"
    )


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("names", nargs="+")
    p.add_argument("--sf", default="/tmp/sf_synth")
    p.add_argument("--low", type=int, default=8)
    p.add_argument("--high", type=int, default=32)
    p.add_argument("--runs", type=int, default=2)
    args = p.parse_args()

    t_low = run_at(args.low, args.sf, args.names, args.runs)
    t_high = run_at(args.high, args.sf, args.names, args.runs)
    queries = {
        n: {
            f"t{args.low}": t_low[n],
            f"t{args.high}": t_high[n],
            "ratio": round(t_low[n] / t_high[n], 2) if t_high[n] else None,
        }
        for n in args.names
    }
    print(json.dumps({
        "sf_dir": args.sf,
        "cpus": [args.low, args.high],
        "queries": queries,
    }))


if __name__ == "__main__":
    main()

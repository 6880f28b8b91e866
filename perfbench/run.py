"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload tpch_olap --seed 1 --seconds 18 --trace 0

Runs from the root of a checkout. Each call starts fresh worker processes
(``worker.py``; each one a new Python process and JVM), one closed-loop
client on ``local[4]``. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. Per-query detail, the run context and every worker's raw
record go to ``.perfbench_work/detail-<workload>-seed<N>-trace<T>.json``.
Exits non-zero without a result when a worker fails to produce a record.

See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from probe import Weather, git_commit  # noqa: E402

WORKLOADS = ("tpch_olap", "clinic_daily")
# The load: one client on 4 cores, driver heap well below the 15 GB host.
SPARK_ENV = {"SPARK_GRAFT_CPUS": "4", "SPARK_GRAFT_DRIVER_MEM": "1g"}
RUN_BUDGET_S = 170.0


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(b")") + 2:].split()
            if int(fields[2]) == pgid and fields[0] != b"Z":
                return True
    return False


def _reap(pgid: int, grace_s: float = 15.0) -> None:
    """Wait until every process of the worker's group (its JVM and Python
    workers) has ended; kill what outlives the grace period."""
    deadline = time.monotonic() + grace_s
    while _group_alive(pgid):
        if time.monotonic() > deadline:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                return
            deadline = time.monotonic() + grace_s
        time.sleep(0.1)


def _worker(args, work: str, trace: int, deadline: float) -> dict:
    """Run one worker process to completion and return its record."""
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(SPARK_ENV)
    env.update({
        # Python workers (mapInPandas, pandas UDFs) import the package.
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(trace), "--work", work]
    weather = Weather()
    spawned = time.time()
    with open(os.path.join(work, "worker.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=log, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            raise RuntimeError("worker exceeded the run budget") from None
        finally:
            _reap(proc.pid)
    lines = stdout.decode().strip().splitlines()
    if proc.returncode != 0 or not lines:
        with open(os.path.join(work, "worker.log")) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"worker exited {proc.returncode}:\n{tail}")
    rec = json.loads(lines[-1])
    rec["setup_s"] = rec.pop("setup_done") - spawned
    rec["weather"] = {"before": weather.before, "after": weather.after()}
    return rec


def _metric(spec: dict, value: float) -> dict:
    return {"value": value, "unit": spec["unit"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_BUDGET_S
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    records = []
    try:
        if args.workload == "clinic_daily":
            # Cron pays a cold start every day: one batch per fresh process,
            # repeated until --seconds have passed, while another still fits.
            t_end = time.monotonic() + args.seconds
            last = 0.0
            while not records or (time.monotonic() < t_end and time.monotonic() + last < deadline):
                t0 = time.monotonic()
                records.append(_worker(args, os.path.join(work, str(len(records))), args.trace, deadline))
                last = time.monotonic() - t0
        else:
            records.append(_worker(args, work, args.trace, deadline))
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(r["attempted"] for r in records)
    failed = sum(r["failed"] for r in records)
    walls = [w for r in records for w in r.get("wall_s", ())]
    if args.trace:
        layers = {s["name"]: 0 for s in spec["per_layer"]}
        for r in records:
            layers.update(r["layers"])
        for name in ("session.start_s", "trace.overhead_s"):
            layers[name] = statistics.median(r["layers"].get(name, 0) for r in records)
        metrics = {s["name"]: _metric(s, layers[s["name"]]) for s in spec["per_layer"]}
    else:
        values = {
            "setup_s": statistics.median(r["setup_s"] for r in records),
            "wall_s": statistics.median(walls),
            "op_p50_s": statistics.median(p for r in records for p in r["op_p50_s"]),
            "ok_ratio": 1.0 - failed / attempted,
            "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in records),
        }
        metrics = {s["name"]: _metric(s, values[s["name"]]) for s in spec["end_to_end"]}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "context": {
            "git_commit": git_commit(ROOT),
            "nproc": len(os.sched_getaffinity(0)),
            "spark_env": SPARK_ENV,
        },
        "workers": records,
        "result": result,
    }
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, f"detail-{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(detail, f, indent=1, ensure_ascii=False)
    for r in records:
        for e in r["errors"]:
            print(f"perfbench: failure: {e}", file=sys.stderr)
    print(f"perfbench: detail in {path}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

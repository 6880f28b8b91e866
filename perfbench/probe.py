"""Measurement helpers: Spark job-group spans, a peak-RSS sampler over the
process tree, and the run-context record.

Spans are recorded from the benchmark's side of each layer boundary. Each
span runs its Spark jobs under its own job group; the engine counters of
those jobs are read from ``statusTracker()`` and
``statusStore().lastStageAttempt(id)`` only after the operation, outside
every timed region.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_COUNTERS = (
    "stages", "tasks", "executor_run_s", "executor_cpu_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "shuffle_records", "spill_bytes",
)


@dataclass
class Span:
    name: str
    group: str
    parent: Span | None
    t0: float = 0.0
    t1: float = 0.0
    job_ids: list[int] = field(default_factory=list)
    children: list[Span] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0

    def all_job_ids(self) -> list[int]:
        ids = list(self.job_ids)
        for c in self.children:
            ids.extend(c.all_job_ids())
        return ids


class Tracer:
    """Nested spans; each one sets its own Spark job group for its
    duration, so a job belongs to the innermost open span and a span's
    totals include its children's."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.roots: list[Span] = []
        self._open: list[Span] = []
        self._prefix = f"perfbench-{uuid.uuid4().hex[:12]}"  # unique per tracer
        self._seq = 0
        self.own_s = 0.0  # time the tracer itself spends inside spans

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        self._seq += 1
        s = Span(name, f"{self._prefix}-{self._seq}", parent)
        (parent.children if parent else self.roots).append(s)
        t = time.perf_counter()
        self.sc.setJobGroup(s.group, name)
        self._open.append(s)
        s.t0 = time.perf_counter()
        self.own_s += s.t0 - t
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._open.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc._jsc.clearJobGroup()
            self.own_s += time.perf_counter() - s.t1

    def settle(self, span: Span) -> None:
        """Resolve the job ids of ``span`` and its children. Call after the
        operation: it waits for the listener bus so late stage events land."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()

        def walk(s: Span) -> None:
            s.job_ids = sorted(tracker.getJobIdsForGroup(s.group))
            for c in s.children:
                walk(c)

        walk(span)

    def counters(self, job_ids: list[int]) -> dict[str, float]:
        """Engine counters summed over the stages the jobs ran. Skipped
        stages (shuffle output reused) are not counted."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(STAGE_COUNTERS, 0)
        out["jobs"] = len(job_ids)
        seen: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["input_bytes"] += st.inputBytes()
                out["shuffle_read_bytes"] += st.shuffleLocalBytesRead() + st.shuffleRemoteBytesRead()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_records"] += st.shuffleWriteRecords()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


# ---------------------------------------------------------------------------
# Peak RSS of a process tree, read from /proc
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants, from one scan of /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we looked
        # The command name may hold spaces or parens; fields resume after ')'.
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_bytes(pids: list[int]) -> dict[int, int]:
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                out[pid] = int(f.read().split()[1]) * _PAGE
        except (OSError, ValueError, IndexError):
            pass
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class PeakRss:
    """One sampling thread recording the peak RSS of this process's tree
    while running. RSS is read every ``INTERVAL_S``; the tree (JVM, Python
    workers) is rescanned every ``RESCAN_S``, which keeps the sampler's own
    CPU use small."""

    INTERVAL_S = 0.05
    RESCAN_S = 0.5

    def __init__(self):
        self.root_pid = os.getpid()
        self.peak = 0
        self.peak_by_command: dict[str, int] = {}  # detail: where the memory is
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _sample(self, pids: list[int], names: dict[int, str]) -> None:
        rss = rss_bytes(pids)
        self.peak = max(self.peak, sum(rss.values()))
        by: dict[str, int] = {}
        for pid, b in rss.items():
            by[names[pid]] = by.get(names[pid], 0) + b
        for k, b in by.items():
            self.peak_by_command[k] = max(self.peak_by_command.get(k, 0), b)

    def _run(self) -> None:
        rescan_at = 0.0
        while True:
            if time.monotonic() >= rescan_at:
                pids = tree_pids(self.root_pid)
                names = {pid: _comm(pid) for pid in pids}
                rescan_at = time.monotonic() + self.RESCAN_S
            self._sample(pids, names)
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        pids = tree_pids(self.root_pid)
        self._sample(pids, {pid: _comm(pid) for pid in pids})


# ---------------------------------------------------------------------------
# Run context: host weather and what was run
# ---------------------------------------------------------------------------


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) from /proc/stat; guest time is already inside user."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def _steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    return round(100.0 * (end[0] - start[0]) / max(1, end[1] - start[1]), 2)


class Weather:
    """Load average and steal% before a run (steal over a short window) and
    after it (steal over the whole run)."""

    WINDOW_S = 0.5

    def __init__(self):
        t0 = _cpu_jiffies()
        time.sleep(self.WINDOW_S)
        self._start = _cpu_jiffies()
        self.before = {"load_1m": os.getloadavg()[0], "steal_pct": _steal_pct(t0, self._start)}

    def after(self) -> dict:
        return {"load_1m": os.getloadavg()[0], "steal_pct": _steal_pct(self._start, _cpu_jiffies())}


def git_commit(root: str) -> str | None:
    """HEAD of the checkout if it is a git work tree (read, not spawned)."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        try:
            with open(os.path.join(git, ref)) as f:
                return f.read().strip()
        except FileNotFoundError:
            with open(os.path.join(git, "packed-refs")) as f:
                for line in f:
                    if line.rstrip().endswith(" " + ref):
                        return line.split()[0]
    except OSError:
        pass
    return None

"""Measurement plumbing shared by the workloads: spans with Spark job groups,
the status-store reader, the process-tree RSS sampler, and output digests.

Nothing here imports the package under test, so the tracer stays outside the
program: spans are recorded around calls into the package's public functions.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

import pandas as pd

SPARK_FIELDS = (
    "executor_run_s", "executor_cpu_s", "jvm_gc_s", "jobs", "tasks",
    "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes", "core_busy_frac",
)


class Tracer:
    """Spans around public calls.  Each enabled span sets its own Spark job
    group, so every job a call launches is attributed to it; the status store
    is read once, after the measured loop.  Spans stay in memory until
    ``write``.  A disabled tracer records nothing and sets no job group."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None):
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": sid, "name": name, "parent": parent["id"] if parent else None,
            "run_id": self.run_id, "group": f"{self.run_id}:{sid}",
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        try:
            yield
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def self_seconds(self) -> dict[str, float]:
        """Per call name: summed span duration minus the time its child spans
        cover (children of one span run one after another)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def spark_by_call(self, cores: int) -> dict[str, dict]:
        """Status-store totals per call name, over the jobs of its spans and
        of their descendants."""
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        group_stages: dict[str, list[int]] = {}
        group_jobs: dict[str, int] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not g.isDefined():
                continue
            ids = j.stageIds()
            group_stages.setdefault(g.get(), []).extend(ids.apply(k) for k in range(ids.size()))
            group_jobs[g.get()] = group_jobs.get(g.get(), 0) + 1
        stages = store.stageList(None, False, False, self.sc._gateway.new_array(self.sc._jvm.double, 0), None)
        per_stage = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            per_stage[s.stageId()] = (
                s.executorRunTime() / 1e3, s.executorCpuTime() / 1e9, s.jvmGcTime() / 1e3,
                s.numCompleteTasks(), s.shuffleWriteBytes(), s.diskBytesSpilled(),
                s.peakExecutionMemory(),
            )
        below = {s["id"]: [s] for s in self.spans}
        for s in reversed(self.spans):
            if s["parent"] is not None:
                below[s["parent"]].extend(below[s["id"]])
        out: dict[str, dict] = {}
        for s in self.spans:
            acc = out.setdefault(s["name"], dict.fromkeys(SPARK_FIELDS, 0.0) | {"_wall": 0.0})
            acc["_wall"] += s["end"] - s["start"]
            for d in below[s["id"]]:
                acc["jobs"] += group_jobs.get(d["group"], 0)
                for sid in group_stages.get(d["group"], []):
                    run, cpu, gc, tasks, shw, spill, peak = per_stage.get(sid, (0,) * 7)
                    acc["executor_run_s"] += run
                    acc["executor_cpu_s"] += cpu
                    acc["jvm_gc_s"] += gc
                    acc["tasks"] += tasks
                    acc["shuffle_write_bytes"] += shw
                    acc["spill_bytes"] += spill
                    acc["peak_exec_mem_bytes"] = max(acc["peak_exec_mem_bytes"], peak)
        for acc in out.values():
            wall = acc.pop("_wall")
            acc["core_busy_frac"] = acc["executor_run_s"] / (wall * cores) if wall > 0 else 0.0
        return out

    def write(self, path: str):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _proc_stats() -> dict[int, list[str]]:
    """The fields after the command name of every /proc/<pid>/stat."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                out[int(d)] = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    return out


def process_tree(root_pid: int, stats: dict | None = None) -> set[int]:
    """``root_pid`` and all its live descendants."""
    stats = _proc_stats() if stats is None else stats
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        kids = [c for c in children.get(frontier.pop(), ()) if c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds(root_pid: int) -> float:
    """CPU time (user + system) used so far by ``root_pid`` and its
    descendants, the reaped ones included."""
    stats = _proc_stats()
    ticks = 0
    for pid in process_tree(root_pid, stats):
        f = stats.get(pid)
        if f is not None:
            # utime, stime, cutime, cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


class RssSampler:
    """Peak summed RSS of a process and all its descendants (the driver JVM
    and the Python workers it forks), sampled from /proc."""

    def __init__(self, root_pid: int, interval: float = 0.5):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in process_tree(self.root_pid):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self.peak_bytes = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())


def frame_digest(pdf: pd.DataFrame, sort_by: list[str]) -> str:
    """Order-independent digest of every column of a result frame."""
    pdf = pdf.sort_values(sort_by, kind="mergesort").reset_index(drop=True)
    h = hashlib.sha256()
    for c in sorted(pdf.columns):
        col = pdf[c]
        if col.dtype == object:
            col = col.map(lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else repr(v))
        h.update(c.encode())
        h.update(pd.util.hash_pandas_object(col, index=False).to_numpy().tobytes())
    return h.hexdigest()[:32]


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile that has at least ten
    samples beyond it.  Below twenty samples that percentile is the median or
    lower, so the maximum stands in for it."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def median(values) -> float:
    return float(statistics.median(values))


class UnionFind:
    def __init__(self):
        self.p: dict = {}

    def find(self, x):
        p = self.p
        root = x
        while p.get(root, root) != root:
            root = p[root]
        while p.get(x, x) != root:
            p[x], x = root, p[x]
        return root

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)

"""Spans, Python-worker memory and Spark scheduler counts for the benchmark.

Spans are kept in memory and written as JSON when the run ends. They are
recorded by the benchmark around its own calls into each layer of the
program; the program itself is not instrumented.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_WORKER_MARKS = (b"pyspark.daemon", b"pyspark/daemon.py", b"pyspark.worker")


class Tracer:
    """Spans (name, start, end, parent, run id). Disabled, ``span`` records
    nothing, so the timed code is the same with tracing on and off."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its children cover. Children
        of one span run one after another, so their durations add up."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def self_time_by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        st = self.self_times()
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
        return out

    def dump(self, path: str, extra: dict) -> None:
        st = self.self_times()
        spans = [dict(s, self_s=st[s["id"]]) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": spans, **extra}, f, indent=1)


def _status_kb(pid: int, key: bytes) -> int:
    try:
        with open(f"/proc/{pid}/status", "rb") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass  # the worker exited between listing and reading
    return 0


def _descendants(root: int) -> list[int]:
    """Pids under ``root`` in the process tree."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 follows the parenthesised command, which may hold spaces
        parent[int(d)] = int(stat[stat.rindex(b")") + 2 :].split()[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def python_workers() -> list[int]:
    """PySpark Python daemon and worker pids started by this process's JVM."""
    out = []
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if any(m in cmd for m in _WORKER_MARKS):
            out.append(pid)
    return out


class WorkerMemory:
    """Peak RSS of the PySpark Python workers.

    ``hwm_mb`` is the largest kernel high-water mark (VmHWM) of any worker
    seen by ``poll``. Inside ``sampling()``, a thread also polls current
    RSS (VmRSS) every ``interval`` seconds, so a span's peak can be read
    with ``peak_between``.
    """

    def __init__(self):
        self._hwm_kb: dict[int, int] = {}
        self.samples: list[tuple[float, int]] = []
        self._pids: list[int] = []
        self._pids_at = 0.0

    def poll(self, relist: bool = False) -> None:
        now = time.perf_counter()
        if relist or now - self._pids_at > 1.0:
            self._pids = python_workers()
            self._pids_at = now
        rss = 0
        for pid in self._pids:
            hwm = _status_kb(pid, b"VmHWM:")
            if hwm > self._hwm_kb.get(pid, 0):
                self._hwm_kb[pid] = hwm
            rss = max(rss, _status_kb(pid, b"VmRSS:"))
        self.samples.append((now, rss))

    @property
    def hwm_mb(self) -> float:
        return max(self._hwm_kb.values(), default=0) / 1024.0

    def peak_between(self, start: float, end: float) -> float:
        return max((kb for t, kb in self.samples if start <= t <= end), default=0) / 1024.0

    @contextmanager
    def sampling(self, interval: float = 0.05):
        stop = threading.Event()

        def run() -> None:
            while not stop.wait(interval):
                self.poll()

        thread = threading.Thread(target=run, daemon=True)
        thread.start()
        try:
            yield self
        finally:
            stop.set()
            thread.join()


def sched_counts(sc, group: str) -> dict:
    """Jobs, executed stages, tasks run and failed tasks of one job group,
    read from the SparkContext status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = failed = 0
    for s in stage_ids:
        info = st.getStageInfo(s)
        if info is None:
            continue
        ran = info.numCompletedTasks + info.numFailedTasks
        if ran:
            stages += 1
            tasks += ran
            failed += info.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

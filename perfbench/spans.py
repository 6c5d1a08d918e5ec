"""Spans, Spark job counts and memory for the benchmark.

Spans are recorded only by the benchmark's own code, around each call into a
sketchlib layer. A span has a name, start, end, the span that caused it and
the id of the operation it belongs to. They stay in memory and are written
out once, when the run ends. A disabled tracer records nothing, so the
untraced run pays one attribute check per call site.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """``requested``: this is a traced run. ``enabled``: record now; a
    traced run turns it on for measured operations and probes only, never
    for set-up."""

    def __init__(self, requested: bool):
        self.requested = requested
        self.enabled = False
        self.spans: list[dict] = []
        self.counts: dict[str, list[float]] = {}
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def op(self, kind: str):
        """One top-level operation: its spans share an op id."""
        prev = getattr(self._local, "op", None)
        self._local.op = f"{kind}#{next(self._ops)}"
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            self._local.op = prev

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        st = self._stack()
        sid = next(self._ids)
        parent = st[-1] if st else None
        st.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": t0, "end": t1, "parent": parent,
                     "op": getattr(self._local, "op", None)}
                )

    def count(self, name: str, value: float) -> None:
        """A count or a directly measured value, recorded at a layer boundary."""
        if self.enabled:
            with self._lock:
                self.counts.setdefault(name, []).append(float(value))

    def self_times(self) -> dict[str, list[float]]:
        """Seconds of each span not covered by its children, by span name."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s in self.spans:
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - child_time.get(s["id"], 0.0))
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
            for name, vals in sorted(self.counts.items()):
                fh.write(json.dumps({"count": name, "values": vals}) + "\n")


def median(vals) -> float:
    return float(statistics.median(vals))


class SparkOpCounter:
    """Spark jobs, stages, tasks and failed tasks per operation, read from
    ``statusTracker()`` through a job group set around the operation.
    Counts only traced 1-client operations (those on the main thread)."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self._ids = itertools.count(1)

    @contextmanager
    def op(self, kind: str):
        if not self.tracer.enabled or threading.current_thread() is not threading.main_thread():
            yield
            return
        group = f"perfbench-{kind}-{next(self._ids)}"
        self.sc.setJobGroup(group, kind)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._record(kind, group)

    def _record(self, kind: str, group: str) -> None:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                stages += 1
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        self.tracer.count(f"spark.jobs_per_op.{kind}", len(jobs))
        self.tracer.count(f"spark.stages_per_op.{kind}", stages)
        self.tracer.count(f"spark.tasks_per_op.{kind}", tasks)
        self.tracer.count("spark.tasks", tasks)
        self.tracer.count("spark.failed_tasks", failed)


def _children(pid: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.append(pid)
        try:
            todo.extend(_children(pid))
        except OSError:
            pass
    return seen


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


def is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return os.path.basename(fh.read().split(b"\0")[0]) == b"java"
    except OSError:
        return False


def jvm_live_heap_mb(spark) -> float:
    """The driver JVM's heap in use right after a full collection: what the
    JVM keeps alive. Unlike the JVM's resident size, it does not depend on
    how far the collector chose to grow the heap."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20

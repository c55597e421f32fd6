"""Spans, counters and process probes for the benchmark.

Spans are recorded by the benchmark around its calls into each layer
of the package (the package itself carries no instrumentation). A
disabled ``Tracer`` hands out a shared no-op context manager, so the
untraced runs that produce the end-to-end metrics pay nothing per
call beyond one attribute lookup.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager, nullcontext

_NULL = nullcontext()


class Tracer:
    """In-memory span recorder.

    A span has a name, start, end, its parent span and the id of the
    operation (one refresh, one recompute) it belongs to. ``op`` opens a
    root span and, when traced, tags every Spark job started inside it
    with a job group so that ``statusTracker`` yields exact job, stage
    and task counts per operation.
    """

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.counts: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None

    def span(self, name: str):
        if not self.enabled:
            return _NULL
        return self._span(name)

    @contextmanager
    def _span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self._op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        """Record a counter at the current layer boundary."""
        if self.enabled:
            self.counts.append({"op": self._op, "name": name, "value": value})

    @contextmanager
    def op(self, op_id: str, name: str):
        """Root span of one operation; Spark jobs inside it are counted."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        group = f"perfbench-{op_id}"
        sc.setJobGroup(group, name)
        self._op = op_id
        try:
            with self._span(name) as rec:
                yield rec
        finally:
            self._op = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._exec_counts(op_id, group)

    def _exec_counts(self, op_id: str, group: str) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = tracker.getStageInfo(s)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        self.counts.append({"op": op_id, "name": "exec.jobs", "value": len(jobs)})
        self.counts.append({"op": op_id, "name": "exec.stages", "value": stages})
        self.counts.append({"op": op_id, "name": "exec.tasks", "value": tasks})

    # -- reduction ------------------------------------------------------

    def self_times(self) -> dict[str, dict[str, float]]:
        """{op: {span name: summed self seconds}}."""
        out: dict[str, dict[str, float]] = {}
        for s, t in zip(self.spans, span_self_times(self.spans)):
            if s["op"] is not None:
                d = out.setdefault(s["op"], {})
                d[s["name"]] = d.get(s["name"], 0.0) + t
        return out

    def per_op_counts(self) -> dict[str, dict[str, float]]:
        out: dict[str, dict[str, float]] = {}
        for c in self.counts:
            if c["op"] is None:
                continue
            d = out.setdefault(c["op"], {})
            d[c["name"]] = d.get(c["name"], 0) + c["value"]
        return out

    def dump(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(json.dumps({"meta": meta}) + "\n")
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
            for c in self.counts:
                fh.write(json.dumps({"count": c}) + "\n")


def span_self_times(spans: list[dict]) -> list[float]:
    """Self time of each span (indexed by span id): its duration minus
    the time its direct children cover. Children run nested and one
    after another on the single committer thread."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return [s["end"] - s["start"] - child[s["id"]] for s in spans]


def mean_over_ops(per_op: dict[str, dict[str, float]], ops: list[str],
                  name: str) -> float:
    """Mean over ``ops`` of one layer's per-op value (0 where absent):
    the layer's share of an average operation, so that self times sum
    to the mean latency and occasional work (checkpoints) shows."""
    return sum(per_op.get(o, {}).get(name, 0.0) for o in ops) / len(ops) if ops else 0.0


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path`` (0 if missing)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set (``VmHWM``) of a process, in KiB."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int | None:
    """Pid of the Spark driver JVM: the launched process if it exec'd
    into java, else its java descendant."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return None
    todo = [proc.pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm", encoding="ascii") as fh:
                if fh.read().strip() == "java":
                    return pid
            with open(f"/proc/{pid}/task/{pid}/children", encoding="ascii") as fh:
                todo.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return None


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile p such that at least
    ten samples lie strictly above the nearest-rank value at p. With
    fewer than twenty samples that percentile is below the median (or
    none qualifies), and the median is returned as (50, median)."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return 50.0, statistics.median(xs)
    k = n - 10  # nearest rank: the k-th smallest leaves n-k = 10 above it
    return 100.0 * k / n, xs[k - 1]

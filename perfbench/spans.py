"""Spans recorded from the benchmark's own files around each call into a
layer of the engine.

A span has a layer name, start, end and its parent.  Each span runs its
Spark jobs under a job group of its own, so the jobs, tasks, executor run
time, input, shuffle and spill that Spark's status store records for that
group belong to the span alone (jobs of nested spans go to the nested
span's group).  Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

STAGE_FIELDS = {
    "tasks": "numTasks",
    "executor_run_ms": "executorRunTime",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


@dataclass
class Span:
    id: int
    layer: str  # the engine module called
    call: str  # what in it
    op: int  # the operation (cycle, query, funnel) the span belongs to
    parent: int | None
    start: float
    end: float = 0.0
    spark: dict = field(default_factory=dict)  # status-store totals of the span's own group

    @property
    def seconds(self) -> float:
        return self.end - self.start


def self_seconds(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted((max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.seconds - covered
    return out


class StatusStore:
    """Per-job-group totals read from Spark's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()

    def group_totals(self, group: str) -> dict:
        self.bus.waitUntilEmpty(10_000)  # listener events of finished jobs
        tracker = self.sc.statusTracker()
        totals = {k: 0 for k in STAGE_FIELDS}
        jobs = tracker.getJobIdsForGroup(group)
        totals["jobs"] = len(jobs)
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else []:
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage skipped, never attempted
                    continue
                for k, getter in STAGE_FIELDS.items():
                    totals[k] += int(getattr(st, getter)())
        return totals


class Tracer:
    def __init__(self, spark=None, cores: int = 1):
        self.spans: list[Span] = []
        self.cores = cores
        self.op = 0
        self._stack: list[Span] = []
        self._status = StatusStore(spark) if spark is not None else None

    @contextmanager
    def span(self, layer: str, call: str = ""):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), layer, call, self.op, parent.id if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        group = f"perfbench-span-{s.id}"
        if self._status:
            self._status.sc.setJobGroup(group, layer)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._status:
                sc = self._status.sc
                if parent is not None:
                    sc.setJobGroup(f"perfbench-span-{parent.id}", parent.layer)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                s.spark = self._status.group_totals(group)
                s.spark["core_util"] = (
                    s.spark["executor_run_ms"] / 1000 / (s.seconds * self.cores) if s.seconds > 0 else 0.0
                )

    def layer_totals(self, op: int) -> dict[str, dict]:
        """Per layer, for one operation: wall seconds, self seconds, and the
        summed status-store totals of its spans."""
        spans = [s for s in self.spans if s.op == op]
        selfs = self_seconds(spans)
        out: dict[str, dict] = {}
        for s in spans:
            t = out.setdefault(s.layer, {"seconds": 0.0, "self_s": 0.0})
            t["seconds"] += s.seconds
            t["self_s"] += selfs[s.id]
            for k, v in s.spark.items():
                if k != "core_util":
                    t[k] = t.get(k, 0) + v
        for t in out.values():
            if "executor_run_ms" in t and t["seconds"] > 0:
                t["core_util"] = t["executor_run_ms"] / 1000 / (t["seconds"] * self.cores)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, fh, indent=1)


class _NoTrace:
    """Stands in for a Tracer on untraced operations: spans cost nothing."""

    op = 0

    @contextmanager
    def span(self, layer: str, call: str = ""):
        yield None


NO_TRACE = _NoTrace()

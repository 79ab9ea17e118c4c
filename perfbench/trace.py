"""Spans recorded around the benchmark's calls into the package, and their
attribution from Spark's event log.

A span records its driver-side wall time always; in a traced run it also
tags every Spark job started inside it with its own job group
(``spark.jobGroup.id``). After the session stops, `rollup` reads the plain
JSON event log and sums task metrics per group. Job groups are the only
attribution key that survives into the log: PySpark DataFrame call sites
appear there only as JVM frames.

A span's *self* figures are its own group's task metrics and its wall time
minus the walls of its child spans.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
MB = float(1 << 20)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float = 0.0  # time.time(), aligned with the event log's epoch ms
    end: float = 0.0
    attrs: dict = field(default_factory=dict)  # e.g. rows, set by the caller

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. `tag_jobs` is set only in traced runs: untraced runs
    never touch Spark's local properties, so their plans and jobs are those
    of a plain caller."""

    def __init__(self, spark, tag_jobs: bool):
        self.sc = spark.sparkContext
        self.tag_jobs = tag_jobs
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _tag(self, span: Span | None) -> None:
        if not self.tag_jobs:
            return
        self.sc.setLocalProperty("spark.jobGroup.id", span.group if span else None)
        self.sc.setLocalProperty("spark.job.description", span.name if span else None)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None)
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_wall(self, span: Span) -> float:
        return span.wall - sum(c.wall for c in self.children(span))

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out


def _new_totals() -> dict:
    return {
        "jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
        "python_s": 0.0, "python_sent_mb": 0.0, "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0, "memory_spill_mb": 0.0, "disk_spill_mb": 0.0,
        "input_mb": 0.0, "output_mb": 0.0,
    }


@dataclass
class Rollup:
    by_group: dict[str, dict]
    task_intervals: list[tuple[float, float]]  # (launch, finish) epoch seconds

    def of(self, spans: list[Span]) -> dict:
        """Summed task metrics of the groups of `spans`."""
        out = _new_totals()
        for s in spans:
            for k, v in self.by_group.get(s.group, {}).items():
                out[k] += v
        return out

    def busy_seconds(self, start: float, end: float) -> float:
        """Wall time in [start, end] during which at least one task ran."""
        cut = sorted((max(a, start), min(b, end)) for a, b in self.task_intervals if b > start and a < end)
        busy, cur_a, cur_b = 0.0, None, None
        for a, b in cut:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            busy += cur_b - cur_a
        return busy


def _accum(task_info: dict, name: str) -> float:
    for a in task_info.get("Accumulables", []):
        if a.get("Name") == name:
            try:
                return float(a.get("Update", 0))
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def rollup(log_dir: str) -> Rollup:
    """Sum task metrics per job group from the one event log in `log_dir`."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    stage_group: dict[tuple[int, int], str | None] = {}
    by_group: dict[str, dict] = {}
    intervals: list[tuple[float, float]] = []
    with open(logs[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    by_group.setdefault(g, _new_totals())["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = (
                    e.get("Properties") or {}
                ).get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                info = e["Task Info"]
                intervals.append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
                g = stage_group.get((e["Stage ID"], e["Stage Attempt ID"]))
                m = e.get("Task Metrics")
                if not g or not m:
                    continue
                t = by_group.setdefault(g, _new_totals())
                t["tasks"] += 1
                t["run_s"] += m["Executor Run Time"] / 1e3
                t["cpu_s"] += m["Executor CPU Time"] / 1e9
                t["gc_s"] += m["JVM GC Time"] / 1e3
                t["memory_spill_mb"] += m["Memory Bytes Spilled"] / MB
                t["disk_spill_mb"] += m["Disk Bytes Spilled"] / MB
                t["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
                sr = m["Shuffle Read Metrics"]
                t["shuffle_read_mb"] += (sr["Local Bytes Read"] + sr["Remote Bytes Read"]) / MB
                t["input_mb"] += m["Input Metrics"]["Bytes Read"] / MB
                t["output_mb"] += m["Output Metrics"]["Bytes Written"] / MB
                # SQL timing metric, in ms
                t["python_s"] += _accum(info, _PY_RUN) / 1e3
                t["python_sent_mb"] += _accum(info, _PY_SENT) / MB
    return Rollup(by_group, intervals)

"""Spans around the benchmark's calls into each layer, and the fold of a
Spark event log into per-span task counters.

A span sets the Spark job group to its own name for as long as it is the
innermost open span, so every job, stage and task Spark runs is attributed
to exactly one span. `fold_event_log` then sums the event log's task
metrics per job group. Wall time is inclusive (`s`); `self_s` is `s` minus
the time covered by child spans; the task counters are the span's own
(jobs run while a child span was open belong to the child).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

COUNTERS = ("jobs", "tasks", "task_cpu_s", "gc_s", "shuffle_write_bytes",
            "spill_bytes", "python_bytes")
# SQL metrics of the Arrow/pandas Python UDF operators: bytes that crossed
# the JVM <-> Python-worker boundary in either direction.
PYTHON_BYTES_METRICS = ("data sent to Python workers",
                        "data returned from Python workers")
NO_GROUP = "_none"


class Tracer:
    """Records span walls; with a SparkContext, also sets job groups.

    `enabled=False` makes every span a no-op, so the untraced run pays
    nothing for the instrumentation it does not use."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.stack: list[str] = []
        self.walls: dict[str, dict] = {}

    def _set_group(self, name: str | None) -> None:
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self.stack[-1] if self.stack else None
        self.stack.append(name)
        self._set_group(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self.stack.pop()
            self._set_group(parent)
            rec = self.walls.setdefault(name, {"s": 0.0, "child_s": 0.0, "n": 0})
            rec["s"] += dt
            rec["n"] += 1
            if parent is not None:
                self.walls.setdefault(
                    parent, {"s": 0.0, "child_s": 0.0, "n": 0}
                )["child_s"] += dt

    def self_s(self, name: str) -> float:
        rec = self.walls.get(name)
        return 0.0 if rec is None else rec["s"] - rec["child_s"]


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def fold_event_log(lines) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group over Spark event-log JSON lines.

    Jobs outside any group land under NO_GROUP. A stage belongs to the
    group of the first job that lists it (a reused shuffle stage runs its
    tasks once)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(g: str) -> dict[str, float]:
        return out.setdefault(g, {c: 0.0 for c in COUNTERS})

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or NO_GROUP
            bucket(group)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(int(sid), group)
        elif kind == "SparkListenerTaskEnd":
            b = bucket(stage_group.get(int(ev.get("Stage ID", -1)), NO_GROUP))
            b["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            b["task_cpu_s"] += _num(tm.get("Executor CPU Time")) / 1e9
            b["gc_s"] += _num(tm.get("JVM GC Time")) / 1e3
            b["spill_bytes"] += (_num(tm.get("Memory Bytes Spilled"))
                                 + _num(tm.get("Disk Bytes Spilled")))
            b["shuffle_write_bytes"] += _num(
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written")
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") in PYTHON_BYTES_METRICS:
                    b["python_bytes"] += _num(acc.get("Update"))
    return out

"""In-memory spans around the benchmark's calls into the engine, and the
fold of Spark's event log into those spans.

A span is (id, name, start, end, parent, iteration). While a span is open
its id is the Spark job group, so every job, stage and task the call
starts is tagged with it in the event log; ``fold_event_log`` then sums
stage/task/SQL metrics per job group. Self time is a span's duration minus
the part of it its children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    iteration: int | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``spark`` set, tags the jobs of each span."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, iteration: int | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(id=f"s{len(self.spans)}", name=name, start=time.perf_counter(),
                 parent=parent.id if parent else None,
                 iteration=iteration if iteration is not None
                 else (parent.iteration if parent else None))
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1].id if self._stack else None)

    def _set_group(self, gid: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if gid is None:  # pyspark has no clearJobGroup; unset the properties
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(gid, gid)


def self_times(spans: list[Span]) -> dict[str, float]:
    """span id -> duration minus the union of its children's intervals,
    each child clipped to the parent's interval."""
    kids: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted((max(c.start, s.start), min(c.end, s.end))
                           for c in kids.get(s.id, ())):
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.id] = s.dur - covered
    return out


# SQL metric names (event-log accumulable names) folded per span
SQL_METRICS = {
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "to_python_bytes",
    "data returned from Python workers": "from_python_bytes",
}


def _empty() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "executor_cpu_s": 0.0,
            "executor_run_s": 0.0, "gc_s": 0.0, "spill_bytes": 0,
            "fetch_wait_s": 0.0, "shuffle_write_bytes": 0,
            "task_s": [], **{v: 0 for v in SQL_METRICS.values()}}


def fold_event_log(lines) -> dict[str, dict]:
    """Event-log JSON lines -> job group id -> summed counters.

    Jobs map to groups through the ``spark.jobGroup.id`` job property,
    stages to jobs through the job's stage ids, tasks to stages by id.
    Stages that never ran (skipped) count neither as stages nor tasks."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    ran_stages: set[int] = set()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if gid is None:
                continue
            g = out.setdefault(gid, _empty())
            g["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group[sid] = gid
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            gid = stage_group.get(sid)
            if gid is not None and sid not in ran_stages:
                ran_stages.add(sid)
                out[gid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            gid = stage_group.get(ev.get("Stage ID"))
            if gid is None:
                continue
            g = out[gid]
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            g["tasks"] += 1
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            g["fetch_wait_s"] += (m.get("Shuffle Read Metrics") or {}).get(
                "Fetch Wait Time", 0) / 1e3
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            if info.get("Finish Time") and info.get("Launch Time"):
                g["task_s"].append((info["Finish Time"] - info["Launch Time"]) / 1e3)
            for acc in info.get("Accumulables", ()):
                key = SQL_METRICS.get(acc.get("Name"))
                if key is not None:
                    g[key] += int(acc.get("Update") or 0)
    return out


def read_event_logs(paths) -> dict[str, dict]:
    lines = []
    for p in paths:
        with open(p) as f:
            lines.extend(f)
    return fold_event_log(lines)


def rollup(spans: list[Span], groups: dict[str, dict]) -> dict[str, dict]:
    """Attach each span the counters of its own job group plus those of all
    its descendants (a call's jobs may run under a child span)."""
    kids: dict[str, list[str]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)

    def total(sid: str) -> dict:
        acc = _empty()
        for part in [groups.get(sid)] + [total(k) for k in kids.get(sid, ())]:
            if part is None:
                continue
            for k, v in part.items():
                acc[k] = acc[k] + v
        return acc

    return {s.id: total(s.id) for s in spans}

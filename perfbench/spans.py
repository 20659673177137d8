"""Spans around calls into the engine's layers, and Spark event-log stats.

Spans are recorded from the benchmark's side only: the benchmark opens a
span around each op and each call it makes into a layer, and
:meth:`Tracer.wrap` puts a span around a module function or class method
for the duration of a run, so the engine's own files stay untouched.  Spans
are kept in memory and summarised after the run.

Spark work is tied to ops through the job group: every op runs under
``setJobGroup("perfbench-op-<n>")``, and the event log (Spark 4's rolling
layout, ``eventlog_v2_<app>/events_<N>_<app>``) records that group on each
job.  Task metrics of a job's stages are attributed to its op; job
intervals are attributed to the span they fall in.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-op-"

#: RDD scope names of the physical operators that run Python workers
PYTHON_SCOPES = (
    "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
    "FlatMapGroupsInPandas",
)


class Tracer:
    """Nested spans on the benchmark's single client thread."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name, "op": self.op, "t0": time.time(), "t1": None,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "id": len(self.spans),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span around every call of ``owner.attr``."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: total wall minus the wall covered by child spans."""
    child_wall: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_wall[s["parent"]] = child_wall.get(s["parent"], 0.0) + s["t1"] - s["t0"]
    out: dict[str, float] = {}
    for s in spans:
        own = s["t1"] - s["t0"] - child_wall.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def covered(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Seconds of [t0, t1] covered by the union of ``intervals``."""
    clipped = sorted((max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1)
    total, end = 0.0, t0
    for a, b in clipped:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _events(log_dir: str):
    """Events of the session's rolling event log, in file order."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if not files:
        raise FileNotFoundError(f"no rolling Spark event log under {log_dir}")

    def index(p: str) -> int:
        return int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1))

    for path in sorted(files, key=index):
        with open(path) as f:
            for line in f:
                yield json.loads(line)


class SparkStats:
    """Per-op job intervals and task/stage totals from one event log."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        stage_op: dict[int, int] = {}
        stages: dict[int, dict] = {}
        tasks: dict[int, list[dict]] = {}
        for ev in _events(log_dir):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                op = int(group[len(GROUP_PREFIX):]) if group.startswith(GROUP_PREFIX) else None
                self.jobs[ev["Job ID"]] = {
                    "op": op, "t0": ev["Submission Time"] / 1000.0, "t1": None,
                }
                for sid in ev.get("Stage IDs", ()):
                    stage_op[sid] = op
            elif kind == "SparkListenerJobEnd":
                self.jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                scopes = " ".join(
                    r.get("Scope", "") or "" for r in info.get("RDD Info", ())
                )
                stages[info["Stage ID"]] = {
                    "wall": (info["Completion Time"] - info["Submission Time"]) / 1000.0,
                    "python": any(s in scopes for s in PYTHON_SCOPES),
                }
            elif kind == "SparkListenerTaskEnd":
                tasks.setdefault(ev["Stage ID"], []).append(ev.get("Task Metrics") or {})
        self.per_op: dict[int, dict] = {}
        for sid, st in stages.items():
            op = stage_op.get(sid)
            if op is None:
                continue
            acc = self.per_op.setdefault(op, zero_stats())
            acc["stages"] += 1
            acc["python_stages"] += st["python"]
            acc["stage_slot_s"] += st["wall"]
            for m in tasks.get(sid, ()):
                acc["tasks"] += 1
                acc["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                acc["result_mb"] += m.get("Result Size", 0) / 2**20
                acc["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 2**20
                acc["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 2**20
                sw = m.get("Shuffle Write Metrics") or {}
                acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                sr = m.get("Shuffle Read Metrics") or {}
                acc["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 2**20
        for job in self.jobs.values():
            if job["op"] is not None:
                self.per_op.setdefault(job["op"], zero_stats())["jobs"] += 1

    def intervals(self, ops: set[int]) -> list[tuple[float, float]]:
        return [
            (j["t0"], j["t1"]) for j in self.jobs.values()
            if j["op"] in ops and j["t1"] is not None
        ]


def zero_stats() -> dict:
    return dict.fromkeys(
        ("jobs", "stages", "python_stages", "tasks", "task_run_s", "task_cpu_s",
         "jvm_gc_s", "result_mb", "spill_mb", "input_mb", "shuffle_write_mb",
         "shuffle_read_mb", "stage_slot_s"),
        0,
    )

"""Layer spans and the Spark event-log reader behind the per-layer metrics.

``Tracer.span(name)`` times a block from outside the program and, while
the block runs, sets a Spark job group naming the span, so every job the
block launches from this thread is tagged with it in the event log.  The
spans (name, group, start, end, parent) stay in memory until the run ends.

``read_event_log`` turns an uncompressed event log into per-group task
counters: executor run and CPU time, their difference (time the executor
thread waited: Python workers, Arrow transfer, I/O), GC time, shuffle
read/write, spill, job and task counts, and task-time skew.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

GROUP_KEY = "spark.jobGroup.id"
COUNTERS = (
    "executor_run_s", "executor_cpu_s", "wait_s", "gc_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "jobs", "tasks", "task_skew",
)


class Tracer:
    def __init__(self, sc=None):
        """``sc``: the SparkContext whose jobs get tagged; None times only."""
        self.sc = sc
        self.spans: List[dict] = []
        self._stack: List[str] = []
        self._ids = itertools.count()

    def _set_group(self, group: Optional[str]) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(GROUP_KEY, group)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        group = f"pb{next(self._ids)}.{name}"
        self._stack.append(group)
        self._set_group(group)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(
                {"name": name, "group": group, "start": start, "end": end, "parent": parent}
            )

    def walls(self, name: str) -> List[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


def _mb(n: float) -> float:
    return n / (1 << 20)


def event_files(path: str) -> List[str]:
    """The event files of one application log: the file itself, or the
    ``events_<n>_...`` parts of a rolling (v2) log directory in order."""
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def _events(path: str):
    for f in event_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                yield line


def read_event_log(path: str) -> Dict[str, dict]:
    """job group -> counters (see COUNTERS) over the tasks of the group's
    jobs.  Jobs without a group are keyed under ''.  ``path`` is an event
    log file or a rolling event log directory."""
    stage_group: Dict[int, str] = {}
    jobs: Dict[str, int] = {}
    tasks: Dict[str, List[dict]] = {}
    for line in _events(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
            jobs[group] = jobs.get(group, 0) + 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if m is None:
                continue
            group = stage_group.get(ev["Stage ID"], "")
            tasks.setdefault(group, []).append(m)
    out: Dict[str, dict] = {}
    for group in set(jobs) | set(tasks):
        ts = tasks.get(group, [])
        run = [t.get("Executor Run Time", 0) / 1e3 for t in ts]
        cpu = sum(t.get("Executor CPU Time", 0) for t in ts) / 1e9
        sr = [t.get("Shuffle Read Metrics", {}) for t in ts]
        sw = [t.get("Shuffle Write Metrics", {}) for t in ts]
        med = statistics.median(run) if run else 0.0
        out[group] = {
            "executor_run_s": sum(run),
            "executor_cpu_s": cpu,
            "wait_s": sum(run) - cpu,
            "gc_s": sum(t.get("JVM GC Time", 0) for t in ts) / 1e3,
            "shuffle_read_mb": _mb(
                sum(r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0) for r in sr)
            ),
            "shuffle_write_mb": _mb(sum(w.get("Shuffle Bytes Written", 0) for w in sw)),
            "spill_mb": _mb(
                sum(t.get("Memory Bytes Spilled", 0) + t.get("Disk Bytes Spilled", 0) for t in ts)
            ),
            "jobs": jobs.get(group, 0),
            "tasks": len(ts),
            "task_skew": (max(run) / med) if med > 0 else 1.0,
        }
    return out


def span_counters(tracer: Tracer, by_group: Dict[str, dict]) -> Dict[str, dict]:
    """span name -> counters summed over every span of that name (a span's
    own jobs only; nested spans keep theirs).  task_skew is the max."""
    out: Dict[str, dict] = {}
    for s in tracer.spans:
        c = by_group.get(s["group"])
        if c is None:
            continue
        acc = out.setdefault(s["name"], {k: 0.0 for k in COUNTERS})
        for k in COUNTERS:
            acc[k] = max(acc[k], c[k]) if k == "task_skew" else acc[k] + c[k]
    return out

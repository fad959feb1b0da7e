"""Spans, percentiles and the Spark event-log fold of the benchmark.

Spans are kept in memory (name, start, end, parent) and written out
when the run ends. A span's self time is its duration minus the part
of it that its child spans cover.

The event-log fold reads the JSON-lines log Spark writes when
``spark.eventLog.enabled`` is set, and sums job, stage and task metrics
over the jobs whose job group the benchmark set (one group per catalog
entry or per site and load).
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default), ``q`` in [0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clipped(intervals, start: float, end: float) -> list[tuple[float, float]]:
    return [(max(a, start), min(b, end)) for a, b in intervals if b > start and a < end]


class Tracer:
    """In-memory spans; safe to use from several driver threads."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = attrs.pop("parent", stack[-1] if stack else None)
        rec = {"id": None, "name": name, "parent": parent, "start": time.time(), **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def named(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"].startswith(prefix) and "end" in s]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(clipped(kids.get(s["id"], []), s["start"], s["end"]))
        for s in spans
    }


def read_event_log(path: str) -> dict:
    """Jobs and tasks of one Spark event log (times in seconds)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1e3,
                    "end": None,
                    "stages": ev["Stage IDs"],
                }
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                m = ev["Task Metrics"]
                sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                tasks.append({
                    "stage": ev["Stage ID"],
                    "run_s": m["Executor Run Time"] / 1e3,
                    "cpu_s": m["Executor CPU Time"] / 1e9,
                    "gc_s": m["JVM GC Time"] / 1e3,
                    "spill": m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
                    "read_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                    "read_rows": m.get("Input Metrics", {}).get("Records Read", 0),
                    "out_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
                    "out_rows": m.get("Output Metrics", {}).get("Records Written", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                })
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return {"jobs": jobs, "tasks": tasks}


def fold(log: dict, groups: set[str]) -> dict[str, float]:
    """Execution-layer totals over the jobs in ``groups``."""
    jobs = {j: v for j, v in log["jobs"].items() if v["group"] in groups}
    tasks = [t for t in log["tasks"] if t["job"] in jobs]
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    skew = max(
        (max(v) / m for v in by_stage.values() if (m := percentile(v, 50)) > 0),
        default=1.0,
    )
    run = sum(t["run_s"] for t in tasks)
    cpu = sum(t["cpu_s"] for t in tasks)
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(by_stage),
        "exec.tasks": len(tasks),
        "exec.task_run_s": run,
        "exec.task_cpu_s": cpu,
        "exec.offcpu_s": max(run - cpu, 0.0),
        "exec.gc_s": sum(t["gc_s"] for t in tasks),
        "exec.task_skew": skew,
        "exec.spill_bytes": sum(t["spill"] for t in tasks),
        "sources.read_bytes": sum(t["read_bytes"] for t in tasks),
        "sources.read_rows": sum(t["read_rows"] for t in tasks),
        "shuffle.write_bytes": sum(t["shuffle_write"] for t in tasks),
        "shuffle.read_bytes": sum(t["shuffle_read"] for t in tasks),
        "shuffle.fetch_wait_s": sum(t["fetch_wait_s"] for t in tasks),
        "sinks.rows_written": sum(t["out_rows"] for t in tasks),
        "sinks.bytes_written": sum(t["out_bytes"] for t in tasks),
    }


def jobs_started(log: dict, group: str, start: float, end: float) -> int:
    return sum(
        1 for j in log["jobs"].values()
        if j["group"] == group and start <= j["start"] <= end
    )

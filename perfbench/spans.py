"""Spans recorded around each call into a layer, and the Spark event
log parsed back into per-span job, stage and task counters.

Spans live in memory and are written once, when the run ends. Every
Spark job is attributed to the innermost span whose interval contains
the job's submission time: the client is a single closed loop, so at
most one span per nesting level is open at any moment, and the
streaming query's own thread submits its jobs inside the drain span
that waits for it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Collects spans ``{id, name, parent, run, start, end}``. Spans
    are always timed (the workloads read their end-to-end timings from
    them); with ``enabled`` the tracer also labels Spark jobs with the
    span as job group and keeps ``attrs`` such as Catalyst phase times."""

    def __init__(self, run_id: str, enabled: bool, spark=None):
        self.run_id = run_id
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0  # time spent in tracing-only calls

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.enabled and self.spark is not None:
            b0 = time.perf_counter()
            self.spark.sparkContext.setJobGroup(f"{self.run_id}/{sid}", name)
            self.bookkeeping_s += time.perf_counter() - b0
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.enabled and self.spark is not None:
                b0 = time.perf_counter()
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    self.spark.sparkContext.setJobGroup(
                        f"{self.run_id}/{parent['id']}", parent["name"]
                    )
                else:
                    self.spark.sparkContext._jsc.clearJobGroup()
                self.bookkeeping_s += time.perf_counter() - b0

    def note(self, fn):
        """Run a tracing-only probe, charging its time to bookkeeping."""
        b0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.bookkeeping_s += time.perf_counter() - b0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f, default=str)


def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase durations of the DataFrame's executed plan, from
    ``queryExecution().tracker()`` (analysis, optimization, planning)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def parse_event_log(log_dir: str) -> list[dict]:
    """Jobs from an uncompressed Spark event log, each with its
    submission time (epoch s), job group and summed task metrics."""
    files = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
        and not p.endswith(".crc")
        and not os.path.basename(p).startswith("appstatus")
    ]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "submitted": ev["Submission Time"] / 1000.0,
                        "group": props.get("spark.jobGroup.id"),
                        "stages": 0,
                        "tasks": 0,
                        "run_ms": 0.0,
                        "cpu_ms": 0.0,
                        "gc_ms": 0.0,
                        "shuffle_read_bytes": 0,
                        "shuffle_write_bytes": 0,
                        "spill_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerStageCompleted":
                    job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
                    if job is not None:
                        job["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["run_ms"] += m.get("Executor Run Time", 0)
                    job["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return list(jobs.values())


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> None:
    """Attach to each span the jobs submitted while it was the innermost
    open span (``span["jobs"]``, a list)."""
    for s in spans:
        s["jobs"] = []
    ordered = sorted(spans, key=lambda s: s["start"])
    for job in jobs:
        t = job["submitted"]
        best = None
        for s in ordered:
            if s["start"] > t:
                break
            if s["end"] is not None and t <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        if best is not None:
            best["jobs"].append(job)


def subtree_jobs(spans: list[dict], root: dict) -> list[dict]:
    """Jobs of ``root`` and of every span nested under it."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.extend(s.get("jobs", []))
        todo.extend(children.get(s["id"], []))
    return out


def job_totals(jobs: list[dict]) -> dict[str, float]:
    keys = ("stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
    out = {k: 0.0 for k in keys}
    for j in jobs:
        for k in keys:
            out[k] += j[k]
    out["jobs"] = float(len(jobs))
    return out

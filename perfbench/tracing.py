"""Benchmark-side tracing: spans around calls into each layer, and a
parser that turns Spark's event log plus those spans into per-layer
metrics.

A span is (id, parent, name, start, end). While a span is open, the
Spark job description is set to its id, so every Spark job lands on
the innermost open span; the event log parser then charges task
metrics to that span and, through the parent chain, to the timed job
that contains it. Spans live in memory until the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a
    plain timer that records nothing and touches no Spark state, so
    untraced runs pay only two clock reads per call."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _describe(self, sid: int | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(
                None if sid is None else f"span:{sid}")

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._describe(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._describe(self._stack[-1] if self._stack else None)

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` (a module function or a class method)
        with a version that runs inside a span. Returns an undo
        callable."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, orig)


def self_time(spans: list[dict], sid: int) -> float:
    """A span's duration minus the part of it its children cover."""
    s = spans[sid]
    kids = sorted((c["start"], c["end"]) for c in spans
                  if c["parent"] == sid and c["end"] is not None)
    return (s["end"] - s["start"]) - union_len(kids, s["start"], s["end"])


def union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def read_event_log(path: str) -> dict:
    """Parse an uncompressed, non-rolling Spark event log into jobs
    (with their span tag and wall interval) and per-task records."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                desc = props.get("spark.job.description") or ""
                jid = ev["Job ID"]
                jobs[jid] = {
                    "span": (int(desc[5:]) if desc.startswith("span:")
                             else None),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None}
                for st in ev.get("Stage IDs", []):
                    stage_job[st] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                tasks.append({
                    "job": stage_job.get(ev["Stage ID"]),
                    "stage": (ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "failed": bool(info.get("Failed")),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_read": (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)),
                    "spill": (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)),
                })
    return {"jobs": jobs, "tasks": tasks}


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".") and not f.endswith(".inprogress")]
    if not files:
        raise FileNotFoundError(f"no finished event log in {log_dir}")
    return max(files, key=os.path.getmtime)


def root_of(spans: list[dict], sid: int | None, roots: set[int]):
    while sid is not None and sid not in roots:
        sid = spans[sid]["parent"]
    return sid


def spark_metrics(spans: list[dict], log: dict, root_ids: list[int],
                  cores: int) -> dict[int, dict]:
    """Executor metrics of each root span (one timed job), summed over
    every Spark job tagged with that span or any span inside it."""
    roots = set(root_ids)
    out = {r: {"jobs": 0, "tasks": 0, "failed_tasks": 0, "task_s": 0.0,
               "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
               "shuffle_read_mb": 0.0, "spill_mb": 0.0,
               "_intervals": [], "_stages": {}} for r in root_ids}
    job_root = {}
    for jid, j in log["jobs"].items():
        r = root_of(spans, j["span"], roots)
        if r is None:
            continue
        job_root[jid] = r
        out[r]["jobs"] += 1
        if j["end"] is not None:
            out[r]["_intervals"].append((j["start"], j["end"]))
    for t in log["tasks"]:
        r = job_root.get(t["job"])
        if r is None:
            continue
        o = out[r]
        o["tasks"] += 1
        o["failed_tasks"] += int(t["failed"])
        o["task_s"] += t["run_s"]
        o["cpu_s"] += t["cpu_s"]
        o["gc_s"] += t["gc_s"]
        o["shuffle_write_mb"] += t["shuffle_write"] / 2**20
        o["shuffle_read_mb"] += t["shuffle_read"] / 2**20
        o["spill_mb"] += t["spill"] / 2**20
        o["_stages"].setdefault(t["stage"], []).append(t["run_s"])
    for r, o in out.items():
        s = spans[r]
        wall = s["end"] - s["start"]
        busy = union_len(o.pop("_intervals"), s["start"], s["end"])
        o["driver_only_s"] = wall - busy
        o["busy_frac"] = o["task_s"] / (cores * wall) if wall > 0 else 0.0
        skew = 1.0
        for times in o.pop("_stages").values():
            med = statistics.median(times)
            if len(times) >= 2 and med > 0:
                skew = max(skew, max(times) / med)
        o["task_skew"] = skew
    return out


def span_table(spans: list[dict], log: dict | None) -> list[dict]:
    """Per-span breakdown (inclusive and self time, plus the Spark
    task time of jobs tagged with exactly that span)."""
    task_s: dict[int, float] = {}
    n_jobs: dict[int, int] = {}
    if log is not None:
        job_span = {jid: j["span"] for jid, j in log["jobs"].items()}
        for jid, sid in job_span.items():
            if sid is not None:
                n_jobs[sid] = n_jobs.get(sid, 0) + 1
        for t in log["tasks"]:
            sid = job_span.get(t["job"])
            if sid is not None:
                task_s[sid] = task_s.get(sid, 0.0) + t["run_s"]
    return [{"id": s["id"], "parent": s["parent"], "name": s["name"],
             "wall_s": s["end"] - s["start"],
             "self_s": self_time(spans, s["id"]),
             "spark_jobs": n_jobs.get(s["id"], 0),
             "task_s": task_s.get(s["id"], 0.0)}
            for s in spans if s["end"] is not None]

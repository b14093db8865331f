"""Spark event-log parser keyed by the benchmark's spans.

Reads the plain JSON-lines event log of one application and attributes every
job, task, CPU-second and shuffle byte to the span whose description the job
carries (``lb:<layer>:<name>:<span id>``, see ``tracing.py``). Wall time
inside the traced windows is split on one timeline:

- while jobs run, each instant is shared equally by the running jobs, and
  each job's share goes to its span's ``(layer, name)``;
- while no job runs, the instant is driver time (``driver.gap_s``); it is
  also shared by the innermost open spans, which says which layer the
  driver was working for.

So the layers' job time plus the driver gap add up to the traced wall.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

from linkbench.tracing import Span, leaves, parse_description


@dataclass
class Task:
    run_ms: int
    cpu_ns: int
    shuffle_write: int
    shuffle_read: int
    failed: bool


@dataclass
class Job:
    id: int
    description: str | None
    submit: float  # seconds since the epoch
    end: float | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    #: stage id → tasks of every attempt
    tasks: dict[int, list[Task]]


def parse(lines) -> EventLog:
    jobs: dict[int, Job] = {}
    tasks: dict[int, list[Task]] = defaultdict(list)
    for line in lines:
        e = json.loads(line)
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            jobs[e["Job ID"]] = Job(e["Job ID"], desc, e["Submission Time"] / 1000, stages=list(e["Stage IDs"]))
        elif ev == "SparkListenerJobEnd":
            job = jobs.get(e["Job ID"])
            if job is not None:
                job.end = e["Completion Time"] / 1000
        elif ev == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            read = m.get("Shuffle Read Metrics") or {}
            tasks[e["Stage ID"]].append(
                Task(
                    run_ms=m.get("Executor Run Time", 0),
                    cpu_ns=m.get("Executor CPU Time", 0),
                    shuffle_write=(m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    shuffle_read=read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0),
                    failed=(e.get("Task End Reason") or {}).get("Reason") != "Success",
                )
            )
    return EventLog(jobs, dict(tasks))


def read(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)


def _key(desc: str | None) -> tuple[str, str] | None:
    p = parse_description(desc)
    return (p[0], p[1]) if p else None


def timeline(jobs: list[Job], spans: list[Span], windows: list[tuple[float, float]]) -> dict:
    """Split the wall of ``windows`` between job time per (layer, name) and
    driver time (no job running), the latter also per innermost open span.
    Returns {"busy": {(layer, name): s}, "idle": {(layer, name): s},
    "gap_s": s, "wall_s": s}."""
    busy: dict = defaultdict(float)
    idle: dict = defaultdict(float)
    gap = wall = 0.0
    for w0, w1 in windows:
        ivs = [(max(w0, j.submit), min(w1, j.end), _key(j.description) or ("unattributed", "-")) for j in jobs if j.end is not None and j.end > w0 and j.submit < w1]
        sps = [s for s in spans if s.end is not None and s.end > w0 and s.start < w1]
        pts = sorted({w0, w1, *(a for a, _, _ in ivs), *(b for _, b, _ in ivs), *(max(w0, s.start) for s in sps), *(min(w1, s.end) for s in sps)})
        for t0, t1 in zip(pts, pts[1:]):
            dt, mid = t1 - t0, (t0 + t1) / 2
            wall += dt
            running = [k for a, b, k in ivs if a <= mid < b]
            if running:
                for k in running:
                    busy[k] += dt / len(running)
                continue
            gap += dt
            leaf = leaves([s for s in sps if s.start <= mid < s.end])
            for s in leaf:
                idle[(s.layer, s.name)] += dt / len(leaf)
            if not leaf:
                idle[("driver", "outside")] += dt
    return {"busy": dict(busy), "idle": dict(idle), "gap_s": gap, "wall_s": wall}


def jobs_in(log: EventLog, windows: list[tuple[float, float]]) -> list[Job]:
    """Jobs submitted inside any window."""
    return [j for j in log.jobs.values() if any(w0 <= j.submit < w1 for w0, w1 in windows)]


def layer_stats(log: EventLog, jobs: list[Job]) -> dict[str, dict]:
    """Per layer: jobs, tasks, failed tasks, executor run and CPU seconds,
    shuffle MB written and read, and the task skew (max ÷ median task run
    time) of the layer's heaviest stage. Jobs without a span description
    count under ``unattributed``."""
    out: dict[str, dict] = defaultdict(lambda: dict(jobs=0, tasks=0, failed_tasks=0, run_s=0.0, cpu_s=0.0, shuffle_write_mb=0.0, shuffle_read_mb=0.0, task_skew=0.0))
    heaviest: dict[str, float] = {}
    # a job lists the stages it skips too; a stage's tasks belong to the
    # first job that lists it, the one that ran it
    owner: dict[int, int] = {}
    for j in sorted(log.jobs.values(), key=lambda j: j.id):
        for sid in j.stages:
            owner.setdefault(sid, j.id)
    for j in jobs:
        layer = (_key(j.description) or ("unattributed",))[0]
        out[layer]["jobs"] += 1
        for sid in j.stages:
            if owner[sid] != j.id or sid not in log.tasks:
                continue
            ts = log.tasks[sid]
            st = out[layer]
            st["tasks"] += len(ts)
            st["failed_tasks"] += sum(t.failed for t in ts)
            run = sum(t.run_ms for t in ts) / 1000
            st["run_s"] += run
            st["cpu_s"] += sum(t.cpu_ns for t in ts) / 1e9
            st["shuffle_write_mb"] += sum(t.shuffle_write for t in ts) / 1e6
            st["shuffle_read_mb"] += sum(t.shuffle_read for t in ts) / 1e6
            if run > heaviest.get(layer, -1.0):
                heaviest[layer] = run
                med = statistics.median(t.run_ms for t in ts)
                st["task_skew"] = max(t.run_ms for t in ts) / med if med > 0 else 1.0
    return dict(out)

"""Spans opened around calls into the engine, and the Spark event-log
parser that charges jobs, tasks and their metrics to those spans.

A span is a named wall-clock interval that the benchmark opens around one
call into a layer's public function. Layers are called one at a time, so
a Spark job belongs to the span whose interval contains the job's
submission time. That rule also catches jobs submitted from the engine's
side threads (FAIR write pools, the connected-components thread), which
inherit neither the job description nor a call site.

The event log must be uncompressed and non-rolling (see
``event_log_conf``); it is parsed after the SparkSession stops.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

SHORT_JOB_MS = 200
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
MB = 1e6


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark conf for a plain JSON-lines event log under ``log_dir``."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Span:
    """Epoch-ms bounds (to match event-log times) plus a monotonic duration."""

    name: str
    start_ms: float
    end_ms: float = 0.0
    wall_s: float = 0.0


@dataclass
class SpanRecorder:
    """In-memory list of spans, in the order they were opened."""

    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time() * 1000.0)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.wall_s = time.perf_counter() - t0
            s.end_ms = time.time() * 1000.0
            self.spans.append(s)


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)
    call_site: str = ""


@dataclass
class Task:
    stage_id: int
    launch_ms: int
    finish_ms: int
    failed: bool
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_b: int
    spill_disk_b: int
    output_b: int
    py_sent_b: int
    py_recv_b: int


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)


def _call_site(ev: dict) -> str:
    props = ev.get("Properties") or {}
    site = props.get("callSite.short")
    if site:
        return site
    infos = ev.get("Stage Infos") or []
    if infos:
        return "stage: " + min(infos, key=lambda s: s["Stage ID"])["Stage Name"]
    return "?"


def parse_event_log(lines) -> EventLog:
    """Parse event-log JSON lines into jobs and finished tasks."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            log.jobs[ev["Job ID"]] = Job(
                ev["Job ID"], ev["Submission Time"],
                stage_ids=list(ev.get("Stage IDs", [])),
                call_site=_call_site(ev))
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            acc = {a.get("Name"): a.get("Update", 0)
                   for a in info.get("Accumulables", [])}
            log.tasks.append(Task(
                stage_id=ev["Stage ID"],
                launch_ms=info["Launch Time"],
                finish_ms=info["Finish Time"],
                failed=bool(info.get("Failed")) or bool(info.get("Killed")),
                run_ms=m.get("Executor Run Time", 0),
                cpu_ns=m.get("Executor CPU Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                shuffle_write_b=(m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
                spill_disk_b=m.get("Disk Bytes Spilled", 0),
                output_b=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
                py_sent_b=int(acc.get(PY_SENT, 0) or 0),
                py_recv_b=int(acc.get(PY_RECV, 0) or 0),
            ))
    return log


def read_event_log(log_dir: str) -> EventLog:
    """Parse the single finished application log in ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {sorted(paths)}")
    with open(paths[0]) as fh:
        return parse_event_log(fh)


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@dataclass
class SpanReport:
    """Per-span metrics plus attribution diagnostics."""

    metrics: dict[str, dict[str, float]]
    attribution: dict[str, dict[str, float]]
    call_sites: dict[str, list[tuple[str, int, float]]]
    task_failures: int


def attribute(spans: list[Span], log: EventLog) -> SpanReport:
    """Charge every job to the span containing its submission time and
    every task to the job that first lists its stage."""
    job_span: dict[int, str] = {}
    for job in log.jobs.values():
        for s in spans:
            if s.start_ms <= job.submit_ms <= s.end_ms:
                job_span[job.job_id] = s.name
                break
    stage_job: dict[int, int] = {}
    for job in sorted(log.jobs.values(), key=lambda j: j.job_id):
        for sid in job.stage_ids:
            stage_job.setdefault(sid, job.job_id)

    by_span: dict[str, list[Task]] = defaultdict(list)
    for t in log.tasks:
        name = job_span.get(stage_job.get(t.stage_id, -1))
        by_span[name].append(t)

    metrics: dict[str, dict[str, float]] = {}
    attribution: dict[str, dict[str, float]] = {}
    call_sites: dict[str, list[tuple[str, int, float]]] = {}
    for s in spans:
        jobs = [j for j in log.jobs.values() if job_span.get(j.job_id) == s.name]
        tasks = by_span.get(s.name, [])
        busy = _covered_ms([(j.submit_ms, j.end_ms or s.end_ms) for j in jobs],
                           s.start_ms, s.end_ms)
        metrics[s.name] = {
            "wall_s": s.wall_s,
            "jobs": len(jobs),
            "short_jobs": sum(1 for j in jobs
                              if j.end_ms and j.end_ms - j.submit_ms < SHORT_JOB_MS),
            "tasks": len(tasks),
            "task_run_s": sum(t.run_ms for t in tasks) / 1000.0,
            "task_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
            "gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
            "idle_s": (s.end_ms - s.start_ms - busy) / 1000.0,
            "shuffle_write_mb": sum(t.shuffle_write_b for t in tasks) / MB,
            "spill_mb": sum(t.spill_disk_b for t in tasks) / MB,
            "output_mb": sum(t.output_b for t in tasks) / MB,
            "py_sent_mb": sum(t.py_sent_b for t in tasks) / MB,
            "py_recv_mb": sum(t.py_recv_b for t in tasks) / MB,
        }
        # own_share: of the task time charged to this span, the part that
        # ran inside its interval
        own = sum(t.run_ms for t in tasks)
        own_in = sum(t.run_ms for t in tasks
                     if s.start_ms <= t.launch_ms and t.finish_ms <= s.end_ms)
        attribution[s.name] = {"own_share": own_in / own if own else 1.0}
        sites: dict[str, list[float]] = defaultdict(lambda: [0, 0.0])
        for j in jobs:
            sites[j.call_site][0] += 1
            sites[j.call_site][1] += ((j.end_ms or s.end_ms) - j.submit_ms) / 1000.0
        call_sites[s.name] = sorted(((k, int(v[0]), round(v[1], 3))
                                     for k, v in sites.items()),
                                    key=lambda r: -r[2])
    unspanned = by_span.get(None, [])
    all_ms = sum(t.run_ms for t in log.tasks)
    attribution["_all"] = {
        "spanned_share": (1.0 - sum(t.run_ms for t in unspanned) / all_ms)
        if all_ms else 1.0,
        "jobs": len(log.jobs),
        "unspanned_jobs": sum(1 for j in log.jobs if j not in job_span),
    }
    return SpanReport(metrics, attribution, call_sites,
                      sum(1 for t in log.tasks if t.failed))

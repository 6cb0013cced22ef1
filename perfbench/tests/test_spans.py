"""The event-log parser and span attribution on a small synthetic log."""

from __future__ import annotations

import json

import pytest

from perfbench.spans import PY_RECV, PY_SENT, Span, attribute, parse_event_log


def _job_start(job_id, t, stages, site=None):
    props = {"callSite.short": site} if site else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Submission Time": t, "Stage IDs": stages,
            "Stage Infos": [{"Stage ID": s, "Stage Name": f"stage{s}"}
                            for s in stages],
            "Properties": props}


def _job_end(job_id, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": job_id,
            "Completion Time": t, "Job Result": {"Result": "JobSucceeded"}}


def _task(stage, launch, finish, run_ms, cpu_ns=0, gc=0, shuffle=0,
          spill=0, out=0, sent=0, recv=0, failed=False):
    acc = []
    if sent:
        acc.append({"ID": 1, "Name": PY_SENT, "Update": sent})
    if recv:
        acc.append({"ID": 2, "Name": PY_RECV, "Update": str(recv)})
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Failed": failed, "Killed": False,
                          "Accumulables": acc},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Executor CPU Time": cpu_ns,
                             "JVM GC Time": gc,
                             "Memory Bytes Spilled": 10 * spill,
                             "Disk Bytes Spilled": spill,
                             "Shuffle Write Metrics":
                                 {"Shuffle Bytes Written": shuffle},
                             "Output Metrics": {"Bytes Written": out}}}


@pytest.fixture()
def report():
    events = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
        # span a: [1000, 2000]; job 0 short; job 1, submitted from a side
        # thread without a call site, runs past the end of the span
        _job_start(0, 1100, [0, 1], site="parquet at x.py:1"),
        _task(0, 1110, 1200, 300, cpu_ns=200_000_000, gc=20, shuffle=2_000_000),
        _task(1, 1200, 1290, 150, out=3_000_000),
        _job_end(0, 1290),
        _job_start(1, 1750, [2]),
        _task(2, 1760, 2100, 40, sent=5_000_000, recv=1_000_000),
        _job_end(1, 2100),
        # span b: [2000, 3000]; job 2 reuses stage 1 (skipped) and runs 3
        _job_start(2, 2200, [1, 3]),
        _task(3, 2210, 2900, 600, spill=4_000_000, failed=True),
        _job_end(2, 2900),
        # outside every span
        _job_start(3, 5000, [4]),
        _task(4, 5000, 5100, 100),
        _job_end(3, 5100),
    ]
    log = parse_event_log(json.dumps(e) for e in events)
    spans = [Span("a", 1000.0, 2000.0, 1.0), Span("b", 2000.0, 3000.0, 1.0)]
    return attribute(spans, log)


def test_jobs_assigned_by_submission_time(report):
    a, b = report.metrics["a"], report.metrics["b"]
    assert (a["jobs"], a["short_jobs"], a["tasks"]) == (2, 1, 3)
    assert a["wall_s"] == 1.0
    assert (b["jobs"], b["short_jobs"], b["tasks"]) == (1, 0, 1)
    assert report.attribution["_all"]["unspanned_jobs"] == 1


def test_task_metrics_summed_per_span(report):
    a, b = report.metrics["a"], report.metrics["b"]
    assert a["task_run_s"] == pytest.approx(0.49)
    assert a["task_cpu_s"] == pytest.approx(0.2)
    assert a["gc_s"] == pytest.approx(0.02)
    assert a["shuffle_write_mb"] == pytest.approx(2.0)
    assert a["output_mb"] == pytest.approx(3.0)
    assert a["py_sent_mb"] == pytest.approx(5.0)
    assert a["py_recv_mb"] == pytest.approx(1.0)
    # spill counts the disk bytes only, not the in-memory size
    assert b["spill_mb"] == pytest.approx(4.0)
    assert report.task_failures == 1


def test_idle_time_is_span_time_without_a_running_job(report):
    # a: jobs cover [1100,1290] and [1750,2000] of [1000,2000]
    assert report.metrics["a"]["idle_s"] == pytest.approx(0.56)
    # b: [2200,2900] busy
    assert report.metrics["b"]["idle_s"] == pytest.approx(0.3)


def test_attribution_shares(report):
    # job 1's task ended after span a closed
    assert report.attribution["a"]["own_share"] == pytest.approx(450 / 490)
    assert report.attribution["b"]["own_share"] == pytest.approx(1.0)
    # 100 of 1190 ms of task time ran outside both spans
    assert report.attribution["_all"]["spanned_share"] == pytest.approx(1090 / 1190)


def test_call_sites_group_jobs(report):
    sites = dict((s, n) for s, n, _ in report.call_sites["a"])
    assert sites == {"parquet at x.py:1": 1, "stage: stage2": 1}

"""The two workloads and the result line they report.

``kg_lifecycle`` times three operations (build, fresh, rollup) on a
growth-regime corpus; ``analytics`` times the 14 headline queries. Every
workload reports the same end-to-end metrics:

- ``setup_s``: session start (``get_spark``), plus on ``kg_lifecycle`` the
  median time of the engine's corpus generator;
- ``work_s``: all timed operations of one pass (build + fresh + rollup;
  the 14-query suite, median over passes).

The operations themselves (``build_s``, ``fresh_s``, ``rollup_s``,
``suite_s``, ``query_p50_s``, each query) and the driver JVM's peak RSS
are printed on a diagnostics line of every run. They repeat less well
from run to run than the two sums above, so they carry no bound.
"""

from __future__ import annotations

import json
import os
import time

from perfbench import analytics, kg_lifecycle
from perfbench.common import (
    driver_peak_rss_mb,
    median,
    run_context,
    start_spark,
    stop_spark,
)
from perfbench.spans import SpanRecorder, attribute, event_log_conf, read_event_log

WORK_DIR = ".perfbench_work"
HISTORY = "history.jsonl"
OVERHEAD_BASE_RUNS = 10  # newest untraced runs of the same code


# workload → (runner, input size: corpus files / fraction of sf0.1 tables)
WORKLOADS = {
    "kg_lifecycle": (kg_lifecycle.run, 500),
    "analytics": (analytics.run, 0.25),
}

E2E_UNITS = {"setup_s": "s", "work_s": "s"}
KG_SPANS = ["triples", "graph", "inc_init", "triples_py", "fold", "rollup"]
SPAN_UNITS = {"wall_s": "s", "jobs": "count", "short_jobs": "count",
              "tasks": "count", "task_run_s": "s", "task_cpu_s": "s",
              "gc_s": "s", "idle_s": "s", "shuffle_write_mb": "MB",
              "spill_mb": "MB", "output_mb": "MB"}
QUERY_FIELDS = {"wall_s": "s", "jobs": "count", "task_cpu_s": "s",
                "shuffle_write_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name → unit, in BENCHMARK.json order."""
    units = {f"{s}.{f}": u for s in KG_SPANS for f, u in SPAN_UNITS.items()}
    units["triples_py.py_sent_mb"] = "MB"
    units["triples_py.py_recv_mb"] = "MB"
    for q in analytics.HEADLINE:
        units.update({f"q.{q}.{f}": u for f, u in QUERY_FIELDS.items()})
    units["task_failures"] = "count"
    return units


def layer_metrics(report) -> dict[str, float]:
    """Per-layer metrics from a span report. Layers the workload does not
    run read 0; a query's figures are medians over its timed passes."""
    m = report.metrics
    zero = dict.fromkeys(list(SPAN_UNITS) + ["py_sent_mb", "py_recv_mb"], 0)
    out: dict[str, float] = {}
    for s in KG_SPANS:
        for f in SPAN_UNITS:
            out[f"{s}.{f}"] = m.get(s, zero)[f]
    out["triples_py.py_sent_mb"] = m.get("triples_py", zero)["py_sent_mb"]
    out["triples_py.py_recv_mb"] = m.get("triples_py", zero)["py_recv_mb"]
    for q in analytics.HEADLINE:
        runs = [v for k, v in m.items() if k.startswith(f"q.{q}#")] or [zero]
        for f in QUERY_FIELDS:
            out[f"q.{q}.{f}"] = median(r[f] for r in runs)
    out["task_failures"] = report.task_failures
    return out


def _history(history_dir: str, workload: str, code: dict,
             e2e: dict | None = None) -> list[dict]:
    """Append this run's untraced metrics (``e2e`` given), or read the
    newest ``OVERHEAD_BASE_RUNS`` earlier ones of ``workload`` whose engine
    and benchmark sources (``code``, two digests) match: the base of the
    tracing overhead. The file sits next to the run directories, so it
    outlives each run."""
    path = os.path.join(history_dir, HISTORY)
    if e2e is not None:
        with open(path, "a") as fh:
            fh.write(json.dumps({"workload": workload, **code, "e2e": e2e}) + "\n")
        return []
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        rows = [json.loads(line) for line in fh if line.strip()]
    same = [r["e2e"] for r in rows if r["workload"] == workload
            and all(r.get(k) == v for k, v in code.items())]
    return same[-OVERHEAD_BASE_RUNS:]


def _span_walls(spans) -> dict[str, float]:
    """Wall seconds per span; per-query spans summed as "warm" / "timed"."""
    out: dict[str, float] = {}
    for s in spans:
        key = ("warm" if s.name.startswith("warm.")
               else "timed" if s.name.startswith("q.") else s.name)
        out[key] = round(out.get(key, 0.0) + s.wall_s, 3)
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        root: str, size: float | None = None,
        corrupt: frozenset[str] = frozenset()) -> dict:
    """One benchmark run → {"result": last-line object, "diagnostics": [...]}.
    ``size`` and ``corrupt`` let the tests shrink a run or damage its
    outputs."""
    runner, default_size = WORKLOADS[workload]
    load_before = os.getloadavg()
    rec = SpanRecorder()
    log_dir = os.path.join(work, "eventlog")
    t0 = time.perf_counter()
    spark = start_spark(work, f"perfbench-{workload}",
                        event_log_conf(log_dir) if trace else None)
    session_s = time.perf_counter() - t0
    try:
        context = run_context(spark, seed, root)
        out = runner(spark, work, seed, seconds, size or default_size, rec,
                     corrupt=corrupt)
        peak = driver_peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    e2e = {"setup_s": session_s + out["prep_s"], "work_s": out["work_s"]}
    code = {k: context[k] for k in ("source_sha256", "bench_sha256")}
    diagnostics = [
        {"context": {**context, "workload": workload, "trace": trace,
                     "loadavg_before": load_before,
                     "loadavg_after": os.getloadavg()}},
        {workload: out["info"], "session_s": session_s, "prep_s": out["prep_s"],
         "peak_rss_mb": peak,
         "span_wall_s": _span_walls(rec.spans)},
    ]
    if out["failed_checks"]:
        diagnostics.append({"failed_checks": out["failed_checks"]})

    if not trace:
        _history(os.path.dirname(work), workload, code, e2e)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    else:
        report = attribute(rec.spans, read_event_log(log_dir))
        layer = layer_metrics(report)
        metrics = {k: {"value": layer[k], "unit": u}
                   for k, u in per_layer_units().items()}
        untraced = _history(os.path.dirname(work), workload, code)
        overhead = ({k: e2e[k] - median(r[k] for r in untraced) for k in E2E_UNITS}
                    if untraced else None)
        diagnostics += [
            {"traced_e2e": e2e, "trace_overhead": overhead,
             "overhead_base_runs": len(untraced)},
            {"attribution": {k: v for k, v in report.attribution.items()
                             if k in KG_SPANS or k == "_all"}},
            {"call_sites": {s: report.call_sites[s] for s in KG_SPANS
                            if s in report.call_sites}},
        ]
    return {"diagnostics": diagnostics,
            "result": {"correct": not out["failed"], "attempted": out["attempted"],
                       "failed": out["failed"], "metrics": metrics}}

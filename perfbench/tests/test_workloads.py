"""Tiny-size runs of both workloads: result shape, span attribution, the
fold-equals-rebuild property, negative controls, and the no-engine exit.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root
(about four minutes on 4 cores).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

from perfbench import analytics, workloads
from perfbench.common import repo_root, start_spark, stop_spark
from perfbench.kg_lifecycle import read_table
from perfbench.workloads import E2E_UNITS, KG_SPANS, per_layer_units

ROOT = repo_root()
KG_TINY = 60  # corpus files
TABLES_TINY = 0.01  # fraction of sf0.1


def _run(workload, work, size, trace=False, corrupt=frozenset(), seed=3):
    os.makedirs(work)
    return workloads.run(workload, seed, 0.0, trace, work, ROOT, size=size,
                         corrupt=corrupt)


@pytest.fixture(scope="module")
def kg_traced(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("kg") / "run")
    return work, _run("kg_lifecycle", work, KG_TINY, trace=True)


def test_kg_lifecycle_traced_smoke(kg_traced):
    _, out = kg_traced
    res = out["result"]
    assert (res["correct"], res["attempted"], res["failed"]) == (True, 3, 0)
    assert list(res["metrics"]) == list(per_layer_units())
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for s in KG_SPANS:
        assert m[f"{s}.jobs"] > 0 and m[f"{s}.tasks"] > 0, s
        assert m[f"{s}.wall_s"] > 0, s
    assert m["triples_py.py_sent_mb"] > 0 and m["triples_py.py_recv_mb"] > 0
    assert m["q.a7_pricing_summary.jobs"] == 0  # the other workload's layer
    diag = {k: v for d in out["diagnostics"] for k, v in d.items()}
    for s in KG_SPANS:
        assert diag["attribution"][s]["own_share"] >= 0.95, s
    assert diag["trace_overhead"] is None  # no untraced run to compare with


def test_fold_equals_rebuild_over_base_and_batch(kg_traced):
    """The folded core tables (and, after the rollup, every table) equal a
    run_graph_stage rebuild over the base and batch triples together."""
    from deep_reason_spark.datagen import alias_dict_df
    from deep_reason_spark.plans.kg_pipeline import GRAPH_TABLE_DIRS, run_graph_stage

    work, _ = kg_traced
    spark = start_spark(os.path.join(work, "rebuild"), "perfbench-rebuild")
    try:
        triples = spark.read.parquet(os.path.join(work, "kg", "triples")).unionByName(
            spark.read.parquet(os.path.join(work, "new", "triples")))
        run_graph_stage(spark, triples, alias_dict_df(spark),
                        os.path.join(work, "full"))
    finally:
        stop_spark(spark)
    for name in GRAPH_TABLE_DIRS:
        rows = []
        for d in ("kg", "full"):
            t = read_table(os.path.join(work, d, name))
            cols = sorted(c for c in t.column_names if c != "bucket")
            data = t.select(cols).to_pylist()
            rows.append(sorted(repr(sorted(r.items())) for r in data))
        assert rows[0] == rows[1], f"table {name} differs from the rebuild"


def test_analytics_smoke(tmp_path):
    out = _run("analytics", str(tmp_path / "run"), TABLES_TINY)
    res = out["result"]
    assert res["correct"] and res["failed"] == 0
    assert res["attempted"] == analytics.MIN_PASSES * len(analytics.HEADLINE)
    assert list(res["metrics"]) == list(E2E_UNITS)
    for k, v in res["metrics"].items():
        assert v["value"] > 0, k
    assert os.path.exists(tmp_path / workloads.HISTORY)


def test_corrupted_outputs_fail_their_checks(tmp_path):
    out = _run("kg_lifecycle", str(tmp_path / "kg"), KG_TINY,
               corrupt=frozenset({"build", "rollup"}))
    kg = out["result"]
    failed = {k: v for d in out["diagnostics"] for k, v in d.items()}["failed_checks"]
    # the fold reads the damaged edges table, so "fresh" fails as well
    assert set(failed) == {"build", "fresh", "rollup"}
    assert (kg["correct"], kg["attempted"], kg["failed"]) == (False, 3, 3)
    an = _run("analytics", str(tmp_path / "an"), TABLES_TINY,
              corrupt=frozenset({"j1_region_stats"}))["result"]
    assert not an["correct"]
    assert an["failed"] == analytics.MIN_PASSES


def test_overhead_base_is_newest_runs_of_the_same_code(tmp_path):
    d = str(tmp_path)
    code = {"source_sha256": "a", "bench_sha256": "b"}
    for i in range(workloads.OVERHEAD_BASE_RUNS + 2):
        workloads._history(d, "analytics", code, {"work_s": i})
    workloads._history(d, "analytics", {**code, "source_sha256": "c"}, {"work_s": 99})
    workloads._history(d, "analytics", {**code, "bench_sha256": "c"}, {"work_s": 99})
    workloads._history(d, "kg_lifecycle", code, {"work_s": 99})
    base = workloads._history(d, "analytics", code)
    assert [r["work_s"] for r in base] == list(range(2, workloads.OVERHEAD_BASE_RUNS + 2))


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout

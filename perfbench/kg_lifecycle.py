"""Workload ``kg_lifecycle``: build a knowledge graph, fold in a batch of
new documents, roll up the derived tables.

Set-up, with the engine's own generator: write a growth-regime corpus and
split off a seed-chosen 1/``HOLDOUT_MOD`` hash slice of ``path`` as the
new-document batch. It runs ``SETUP_REPS`` times and its median time is
part of ``setup_s``.

Timed sections, each followed by an untimed output check:

- ``build``  = spans ``triples`` + ``graph`` + ``inc_init``
  (``run_triples_stage``, ``run_graph_stage`` -- together what
  ``run_kg_pipeline`` runs -- then ``init_incremental_state``), cold: the
  first engine job in the JVM after the generator's.
- ``fresh``  = spans ``triples_py`` + ``fold`` (python-engine extraction of
  the batch, then the core fold ``refresh_derived=False``).
- ``rollup`` = span ``rollup`` (``refresh_derived_tables``).
"""

from __future__ import annotations

import os

from perfbench.common import drain_jvm_state, median_setup
from perfbench.spans import SpanRecorder

HOLDOUT_MOD = 11
KEY = ["subject", "predicate", "object", "document_id", "order_id",
       "content_sha256"]
MIN_PR = 0.95


def prepare_inputs(spark, data_dir: str, n_files: int, seed: int) -> None:
    """Generate the corpus, split into ``held_out=false`` (base) and
    ``held_out=true`` (the new-document batch) partitions, in one job."""
    from pyspark.sql import functions as F

    from deep_reason_spark.datagen import generate_repo_files

    held_out = F.pmod(F.xxhash64("path", F.lit(seed)), F.lit(HOLDOUT_MOD)) == 0
    generate_repo_files(spark, n_files, extra_entities=8 * n_files) \
        .withColumn("held_out", held_out) \
        .write.partitionBy("held_out").parquet(os.path.join(data_dir, "corpus"))


# ---------------------------------------------------------------------------
# output checks (untimed). They read the written tables with pyarrow, so a
# check submits no Spark job. Each returns a list of problems, empty = pass.
# ---------------------------------------------------------------------------

def read_table(path: str, columns: list[str] | None = None):
    """A Spark-written parquet table (hive ``bucket=`` dirs included)."""
    import pyarrow.dataset as pads

    return pads.dataset(path, format="parquet", partitioning="hive") \
        .to_table(columns=columns)


def golden_triples(spark, n_files: int) -> set[tuple]:
    """The generator's expected triples for the whole corpus."""
    from deep_reason_spark.datagen import generate_golden_triples

    pdf = generate_golden_triples(spark, n_files, extra_entities=8 * n_files) \
        .select(*KEY).toPandas()
    return set(pdf.itertuples(index=False, name=None))


def _rows(table) -> set[tuple]:
    cols = [table.column(c).to_pylist() for c in KEY]
    return set(zip(*cols))


def check_extraction(triples_dir: str, files_dir: str, golden: set[tuple]) -> list[str]:
    """Precision and recall of the triples in ``triples_dir`` vs the golden
    triples of the documents in ``files_dir``."""
    files = read_table(files_dir, ["repo", "path"]).to_pydict()
    docs = {f"{r}:{p}" for r, p in zip(files["repo"], files["path"])}
    gold = {t for t in golden if t[3] in docs}
    ext = _rows(read_table(triples_dir, KEY))
    tp = len(ext & gold)
    p = tp / len(ext) if ext else 0.0
    r = tp / len(gold) if gold else 0.0
    if p < MIN_PR or r < MIN_PR:
        return [f"extraction precision {p:.4f} / recall {r:.4f} < {MIN_PR}"]
    return []


def check_core(kg_dir: str, n_triples: int) -> list[str]:
    """Invariants of the core tables (hold on a full build and after a fold):
    mapping, nodes and edges are non-empty, the edge weights add up to the
    triples folded, every edge endpoint is a node, node ids are unique."""
    from deep_reason_spark.plans.kg_pipeline import CORE_TABLE_DIRS

    problems = [f"table {t} is empty" for t in CORE_TABLE_DIRS
                if read_table(os.path.join(kg_dir, t)).num_rows == 0]
    edges = read_table(os.path.join(kg_dir, "edges"),
                       ["source", "target", "weight"]).to_pydict()
    ids = read_table(os.path.join(kg_dir, "nodes"), ["id"]).column("id").to_pylist()
    w = sum(edges["weight"])
    if w != n_triples:
        problems.append(f"sum(edges.weight) {w} != triples folded {n_triples}")
    node_set = set(ids)
    dangling = sum(1 for e in edges["source"] + edges["target"] if e not in node_set)
    if dangling:
        problems.append(f"{dangling} edge endpoints are not nodes")
    if len(node_set) != len(ids):
        problems.append("node ids are not unique")
    return problems


def check_derived(kg_dir: str) -> list[str]:
    """All ten graph tables non-empty; every node sits in exactly one
    community whose id is its minimum member."""
    from deep_reason_spark.plans.kg_pipeline import GRAPH_TABLE_DIRS

    problems = [f"table {t} is empty" for t in GRAPH_TABLE_DIRS
                if read_table(os.path.join(kg_dir, t)).num_rows == 0]
    comm = read_table(os.path.join(kg_dir, "communities"),
                      ["community_id", "entity_ids"]).to_pydict()
    members = [m for ms in comm["entity_ids"] for m in ms]
    ids = set(read_table(os.path.join(kg_dir, "nodes"), ["id"])
              .column("id").to_pylist())
    if len(members) != len(ids) or set(members) != ids:
        problems.append("nodes are not partitioned into communities")
    bad = sum(1 for c, ms in zip(comm["community_id"], comm["entity_ids"])
              if c != min(ms))
    if bad:
        problems.append(f"{bad} communities not labelled by their min member")
    return problems


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------

def run(spark, work: str, seed: int, seconds: float, n_files: int,
        rec: SpanRecorder, corrupt: frozenset[str] = frozenset()) -> dict:
    """One lifecycle; it outlasts any ``seconds`` a run may be given, so
    that argument is unused. ``corrupt`` names sections whose output is
    damaged before its check (negative controls for the tests)."""
    from deep_reason_spark.datagen import alias_dict_df
    from deep_reason_spark.plans.incremental_kg import (
        init_incremental_state,
        refresh_derived_tables,
        run_incremental_kg_update,
    )
    from deep_reason_spark.plans.kg_pipeline import (
        TRIPLES_DIR,
        run_graph_stage,
        run_triples_stage,
    )

    with rec.span("setup"):
        data_dir, prep_s, prep_reps_s = median_setup(
            lambda d: prepare_inputs(spark, d, n_files, seed), work, "data")
        base_dir = os.path.join(data_dir, "corpus", "held_out=false")
        batch_dir = os.path.join(data_dir, "corpus", "held_out=true")
        base = spark.read.parquet(base_dir)
        batch = spark.read.parquet(batch_dir)
        alias = alias_dict_df(spark)
    kg_dir = os.path.join(work, "kg")
    new_dir = os.path.join(work, "new")
    problems: dict[str, list[str]] = {}

    with rec.span("triples") as s_tr:
        triples = run_triples_stage(spark, base, kg_dir, resume=False)
    with rec.span("graph") as s_gr:
        run_graph_stage(spark, triples, alias, kg_dir)
    with rec.span("inc_init") as s_ii:
        init_incremental_state(spark, triples, alias, kg_dir)
    build_s = s_tr.wall_s + s_gr.wall_s + s_ii.wall_s
    with rec.span("check.build"):
        if "build" in corrupt:
            _drop_one_file(os.path.join(kg_dir, "edges"))
        golden = golden_triples(spark, n_files)
        n_base = read_table(os.path.join(kg_dir, TRIPLES_DIR), ["subject"]).num_rows
        problems["build"] = check_extraction(
            os.path.join(kg_dir, TRIPLES_DIR), base_dir, golden)
        problems["build"] += check_core(kg_dir, n_base)
        drain_jvm_state(spark)

    with rec.span("triples_py") as s_py:
        new = run_triples_stage(spark, batch, new_dir, resume=False,
                                engine="python")
    with rec.span("fold") as s_fo:
        run_incremental_kg_update(spark, new, alias, kg_dir,
                                  refresh_derived=False)
    fresh_s = s_py.wall_s + s_fo.wall_s
    with rec.span("check.fresh"):
        n_new = read_table(os.path.join(new_dir, TRIPLES_DIR), ["subject"]).num_rows
        problems["fresh"] = check_extraction(
            os.path.join(new_dir, TRIPLES_DIR), batch_dir, golden)
        problems["fresh"] += check_core(kg_dir, n_base + n_new)
        drain_jvm_state(spark)

    with rec.span("rollup") as s_ro:
        refresh_derived_tables(spark, kg_dir)
    with rec.span("check.rollup"):
        if "rollup" in corrupt:
            _drop_one_file(os.path.join(kg_dir, "community_reports"), every=True)
        problems["rollup"] = check_derived(kg_dir)

    times = {"build_s": build_s, "fresh_s": fresh_s, "rollup_s": s_ro.wall_s}
    failed = {op: p for op, p in problems.items() if p}
    return {
        "work_s": sum(times.values()), "prep_s": prep_s,
        "attempted": len(problems), "failed": len(failed),
        "failed_checks": failed,
        "info": {**times, "prep_reps_s": prep_reps_s, "sizes": {
            "files": n_files,
            "base_files": read_table(base_dir, ["path"]).num_rows,
            "batch_files": read_table(batch_dir, ["path"]).num_rows,
            "base_triples": n_base, "batch_triples": n_new}},
    }


def _drop_one_file(table_dir: str, every: bool = False) -> None:
    """Negative control: delete the first (or every) data file of a table."""
    for root, _, names in sorted(os.walk(table_dir)):
        for name in sorted(names):
            if name.endswith(".parquet"):
                os.remove(os.path.join(root, name))
                if not every:
                    return

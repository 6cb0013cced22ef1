"""Structured-Streaming facade over the batch pipeline.

The reference has NO streaming (SURVEY.md §2.9) — everything is batch with
JSONL/hash-cache resume. Our engine's primary resume story is therefore the
checkpointed-batch ledger (sources/checkpoint.py). This module adds the
streaming facade SURVEY.md §2.9 anticipates: the chunk→extract path is
expressed as ``readStream → foreachBatch(batch pipeline) → exactly-once
sink``, so a corpus that *arrives* incrementally (files landing in an
Iceberg/parquet location) is processed incrementally with Spark's own
checkpoint tracking which input files were consumed.

Also provides the watermarked event-time windowed aggregation a streaming
deployment of the metrics side would use (late data bounded by watermark).
Both run with ``trigger(availableNow=True)`` in tests — same code path as a
continuous deployment, minus the daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deep_reason_spark.datagen import REPO_FILES_SCHEMA
from deep_reason_spark.operators.chunker import chunk_repo_files
from deep_reason_spark.operators.extractor import extract_triples


def stream_extract_triples(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
):
    """repo_files parquet dir (files arriving over time) → triples parquet,
    exactly-once per input file via the streaming checkpoint.

    foreachBatch reuses the SAME batch operators (chunker + extractor), so
    stream and batch runs produce identical rows for identical input."""
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_stream_checkpoint")
    stream = (
        spark.readStream.schema(REPO_FILES_SCHEMA)
        .option("maxFilesPerTrigger", "64")
        .parquet(input_dir)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # Idempotent sink: a blind append is only at-least-once (a batch that
        # fails after a partial write is replayed from the checkpoint and
        # duplicates rows). Partitioning by batch_id with DYNAMIC partition
        # overwrite makes the replay REPLACE its own partition — exactly-once
        # per micro-batch without touching other batches' output.
        triples = extract_triples(chunk_repo_files(batch_df)).withColumn(
            "batch_id", F.lit(batch_id)
        )
        (
            triples.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(os.path.join(out_dir, "triples"))
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_maintain_components(
    spark: SparkSession,
    edges_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    edge_schema: str = "src string, dst string",
):
    """Continuously-maintained canonical ``(node, component)`` labels over
    an edge stream (similarity edges landing as parquet files) — the
    streaming face of ``incremental_components``: each micro-batch folds
    only its NEW edges into the prior labeling, never recomputing over
    historical edges (the reference's refine chain re-feeds the whole
    ``current_graph`` per update, ``kg_agent/chains.py:99-135``).

    Exactly-once: labels are VERSIONED by micro-batch
    (``labels/as_of_batch=N``, dynamic partition overwrite). A batch
    replayed after a partial failure re-reads version N-1 and rewrites
    version N in place — idempotent, and concurrent readers always see a
    complete version (take ``max(as_of_batch)``). A deployment prunes
    versions older than its replay horizon; the test-scale reader scans
    the version column then partition-prunes the one it wants."""
    from pyspark.errors import AnalysisException

    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_cc_checkpoint")
    labels_path = os.path.join(out_dir, "labels")

    from deep_reason_spark.operators.canonicalize import incremental_components

    def _latest_labels(batch_id: int):
        """Newest complete labels version strictly before this batch (a
        replay of batch N must NOT read its own partial version N)."""
        try:
            all_versions = spark.read.parquet(labels_path)
        except AnalysisException:
            return None
        prior = all_versions.where(F.col("as_of_batch") < batch_id)
        row = prior.agg(F.max("as_of_batch").alias("m")).collect()[0]
        if row["m"] is None:
            return None
        # second read is partition-pruned to the single chosen version
        return (
            spark.read.parquet(labels_path)
            .where(F.col("as_of_batch") == row["m"])
            .select("node", "component")
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        prior = _latest_labels(batch_id)
        if prior is None:
            from deep_reason_spark.operators.canonicalize import (
                connected_components,
            )
            labels = connected_components(batch_df)
        else:
            labels = incremental_components(prior, batch_df)
        (
            labels.withColumn("as_of_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("as_of_batch")
            .parquet(labels_path)
        )

    stream = (
        spark.readStream.schema(edge_schema)
        .option("maxFilesPerTrigger", "64")
        .parquet(edges_dir)
    )
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_maintain_kg(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    alias_dict: DataFrame,
    checkpoint_dir: str | None = None,
    salt: int = 0,
    entity_types: DataFrame | None = None,
    derived_every: int = 1,
):
    """Continuously-maintained knowledge graph over a DOCUMENT stream — the
    streaming face of the delta-only refresh
    (``plans/incremental_kg.run_incremental_kg_update``), composing the two
    maintenance streams above into the full production shape: repo files
    land in ``input_dir`` over time; each micro-batch is chunked +
    extracted and folded into ALL ten stored graph-stage tables without
    rescanning historical triples. (The reference refreshes by re-feeding
    the whole ``current_graph`` through its refine chain per update,
    deep-reason ``kg_agent/chains.py:99-135`` — O(graph) per batch; this
    is O(batch) plus edge-scale derived-table rebuilds.)

    Bootstrap: the first micro-batch (no ``entity_blocks`` state yet at
    ``out_dir``) runs the full ``run_graph_stage`` + one
    ``init_incremental_state`` pass; every later batch is delta-only. To
    stream on top of an existing batch-built graph, call
    ``init_incremental_state`` once beforehand — the stream then never
    bootstraps. ``derived_every=N`` folds core tables + state every batch
    (O(affected)) and refreshes the edge-scale GLOBAL derived tables
    (communities, ontology_*, kg_*) only on every Nth batch id — the
    transactional-core / periodic-rollup cadence split of
    ``run_incremental_kg_update(refresh_derived=...)``; default 1 keeps
    every table current on every batch.

    The bootstrap is fenced by a ``_bootstrap_pending`` flag
    (written before any mutation, recording the batch id; cleared after
    the applied-marker write): a crash ANYWHERE inside the bootstrap makes
    the replay re-bootstrap from scratch — safe, because the bootstrap is
    a full overwrite and therefore idempotent, unlike the fold.

    Exactly-once: unlike the two sinks above, the incremental fold is NOT
    idempotent (edge weights SUM — replaying an applied batch would double
    them), so a partition-overwrite sink can't provide the guarantee.
    Instead the last applied micro-batch id is recorded in an
    ``_applied_batch`` marker written atomically AFTER every table has
    been swapped in; a replayed batch with ``batch_id <= marker`` is a
    no-op. A failure anywhere before the swap loop leaves the stored graph
    at the pre-update state (staging protocol) and the marker unwritten —
    the replay then applies the batch exactly once. The residual window is
    the swap-loop-to-marker interval on the INCREMENTAL path (a few
    directory renames, the same single-filesystem caveat ``_swap_in``
    documents; the bootstrap path has no such window — the pending fence
    covers it); a cluster deployment commits the tables and the marker in
    ONE transactional-catalog operation to close it.

    The marker also records the streaming query id (the checkpoint's
    identity): batch ids are only comparable WITHIN one checkpoint
    lineage. If the checkpoint is lost and recreated, the restarted
    stream renumbers batches and regroups files, so an id-only guard
    could silently skip new documents or double-fold old ones — instead
    the lineage mismatch raises, with the remediation being either
    restoring the checkpoint or rebuilding into a fresh ``out_dir``.

    ``salt`` / ``entity_types`` must be held constant across the stream's
    lifetime (same contract as ``run_incremental_kg_update``)."""
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_kg_checkpoint")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _maintain_kg_batch(
            spark, batch_df, batch_id, out_dir=out_dir,
            checkpoint_dir=checkpoint_dir, alias_dict=alias_dict, salt=salt,
            entity_types=entity_types,
            # derived-rollup cadence: batch ids are monotonic within one
            # checkpoint lineage, so every Nth batch refreshes the global
            # derived tables and the rest fold core-only (O(affected))
            refresh_derived=(derived_every <= 1
                             or batch_id % derived_every == 0),
        )

    stream = (
        spark.readStream.schema(REPO_FILES_SCHEMA)
        .option("maxFilesPerTrigger", "64")
        .parquet(input_dir)
    )
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _maintain_kg_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    *,
    out_dir: str,
    checkpoint_dir: str,
    alias_dict: DataFrame,
    salt: int = 0,
    entity_types: DataFrame | None = None,
    refresh_derived: bool = True,
) -> None:
    """One ``stream_maintain_kg`` micro-batch — module-level so the crash
    fences (pending bootstrap, lineage guard, marker ordering) are directly
    drivable in tests without a streaming query around them."""
    import json
    import shutil

    from deep_reason_spark.plans.incremental_kg import (
        BLOCKS_DIR,
        init_incremental_state,
        run_incremental_kg_update,
    )
    from deep_reason_spark.plans.kg_pipeline import run_graph_stage

    os.makedirs(out_dir, exist_ok=True)
    marker = os.path.join(out_dir, "_applied_batch")
    pending = os.path.join(out_dir, "_bootstrap_pending")

    # Spark writes the query id to <checkpoint>/metadata at stream start,
    # before any batch runs — it IS the checkpoint's identity
    with open(os.path.join(checkpoint_dir, "metadata")) as f:
        qid = json.load(f)["id"]

    def _applied() -> tuple[str, int] | None:
        if not os.path.exists(marker):
            return None
        with open(marker) as f:
            mq, bid = f.read().strip().rsplit(":", 1)
        return mq, int(bid)

    def _record(batch_id: int) -> None:
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write(f"{qid}:{batch_id}")
        os.replace(tmp, marker)

    last = _applied()
    if last is not None:
        last_qid, last_bid = last
        if last_qid != qid:
            raise RuntimeError(
                "stream_maintain_kg: the streaming checkpoint at "
                f"{checkpoint_dir!r} is not the one that built the "
                f"graph at {out_dir!r} (query id {qid} != applied-"
                f"marker id {last_qid}). Batch ids are only comparable "
                "within one checkpoint lineage — continuing could "
                "silently skip new documents or double-fold applied "
                "ones. Restore the original checkpoint, or rebuild "
                "into a fresh out_dir.")
        if batch_id <= last_bid:
            return  # replayed batch already folded in — the fold is not
            # idempotent; the guard (not a re-run) IS the exactly-once
    triples = extract_triples(chunk_repo_files(batch_df)).localCheckpoint()
    if triples.limit(1).count() == 0:
        _record(batch_id)  # nothing extractable; applied vacuously
        return
    pend = None
    if os.path.exists(pending):
        with open(pending) as f:
            pend = int(f.read().strip())
        if last is not None and last[1] >= pend:
            # bootstrap WAS recorded; the flag survived only because the
            # crash hit after _record, before the unlink — stale, drop it
            os.unlink(pending)
            pend = None
    if pend is not None or not os.path.exists(
            os.path.join(out_dir, BLOCKS_DIR)):
        # ---- bootstrap (idempotent full overwrite) ---------------------
        with open(pending + ".tmp", "w") as f:
            f.write(str(batch_id))
        os.replace(pending + ".tmp", pending)  # fence BEFORE any mutation
        stage_dir = out_dir + "__bootstrap"
        shutil.rmtree(stage_dir, ignore_errors=True)
        run_graph_stage(
            spark, triples, alias_dict, stage_dir, salt=salt,
            entity_types=entity_types,
        )
        init_incremental_state(spark, triples, alias_dict, stage_dir)
        for name in os.listdir(stage_dir):
            dst = os.path.join(out_dir, name)
            if os.path.isdir(dst):  # crashed earlier move — self-heal
                shutil.rmtree(dst)
            elif os.path.exists(dst):  # plain file (the state manifest)
                os.unlink(dst)
            os.rename(os.path.join(stage_dir, name), dst)
        os.rmdir(stage_dir)
        _record(batch_id)
        os.unlink(pending)
    else:
        run_incremental_kg_update(
            spark, triples, alias_dict, out_dir, salt=salt,
            entity_types=entity_types,
            refresh_derived=refresh_derived,
        )
        _record(batch_id)


def windowed_event_counts(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """Watermarked tumbling-window counts over an event stream — the
    standard late-data-bounded streaming aggregation, in append mode."""
    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        )
        .parquet(events_dir)
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n",
                "total_value")
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "event_counts"))
        .option("checkpointLocation", os.path.join(out_dir, "_wm_checkpoint"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def sessionize_events(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    gap_seconds: int = 1800,
    watermark: str = "0 seconds",
):
    """Custom STATEFUL streaming operator (SURVEY.md §2.9's anticipated
    ``applyInPandasWithState`` path): collapse each user's event stream into
    sessions that close after ``gap_seconds`` of inactivity.

    Per micro-batch the handler sweeps the batch's events into gap-bounded
    intervals, MERGES the open session carried in state into that interval
    list (so a late-but-in-watermark event can extend a session's START
    downward or bridge two intervals — review finding), emits every
    interval except the newest (those are closed: a gap separates them),
    and keeps the newest as the open tail in state; an event-time timeout
    (watermark passes tail_end + gap) flushes the tail when the user goes
    quiet. State per key is ONE (start, end, count) tuple — bounded
    regardless of stream length."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        )
        .parquet(events_dir)
    )

    out_schema = ("user_id bigint, session_start timestamp, "
                  "session_end timestamp, n_events bigint")
    state_schema = "start long, end long, n long"

    def fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            start, end, n = state.get
            state.remove()
            yield pd.DataFrame({
                "user_id": [user_id],
                "session_start": [pd.Timestamp(start, unit="us")],
                "session_end": [pd.Timestamp(end, unit="us")],
                "n_events": [n],
            })
            return
        ts = pd.concat([pdf["ts"] for pdf in pdf_iter]).sort_values()
        micros = (ts.astype("int64") // 1000).astype("int64")  # ns → µs
        gap_us = gap_seconds * 1_000_000
        # 1. sweep the batch into gap-bounded intervals
        intervals: list[tuple[int, int, int]] = []
        cur = None
        for t in micros:
            t = int(t)
            if cur is None:
                cur = [t, t, 1]
            elif t - cur[1] <= gap_us:
                cur[1], cur[2] = max(cur[1], t), cur[2] + 1
            else:
                intervals.append(tuple(cur))
                cur = [t, t, 1]
        if cur is not None:
            intervals.append(tuple(cur))
        # 2. merge the open state interval in (late events may overlap it,
        # extend its start, or bridge neighbors — counts add)
        if state.exists:
            intervals.append(tuple(state.get))
        intervals.sort()
        merged: list[tuple[int, int, int]] = []
        for s, e_, n in intervals:
            if merged and s - merged[-1][1] <= gap_us:
                ps, pe, pn = merged[-1]
                merged[-1] = (ps, max(pe, e_), pn + n)
            else:
                merged.append((s, e_, n))
        sessions, tail = merged[:-1], merged[-1]
        state.update(tail)
        state.setTimeoutTimestamp(tail[1] // 1000 + gap_seconds * 1000)
        if sessions:
            yield pd.DataFrame({
                "user_id": [user_id] * len(sessions),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in sessions],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in sessions],
                "n_events": [n for _, _, n in sessions],
            })

    sessions = (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    return (
        sessions.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "sessions"))
        .option("checkpointLocation", os.path.join(out_dir, "_sess_checkpoint"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )

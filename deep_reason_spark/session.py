"""SparkSession factory tuned for the KG-construction workload.

Design notes (scale-first):
- AQE on: runtime coalescing of post-shuffle partitions and skew-join
  splitting replace most hand-tuning; the explicitly salted paths
  (hot-predicate aggregation, hub entities in connected components) cover
  the skew cases AQE cannot see (iterative self-joins, single hot keys).
- Arrow on: every Python-side stage is a pandas/Arrow-batched UDF
  (``mapInPandas`` / ``pandas_udf``); ``maxRecordsPerBatch`` plays the role
  of the reference's token-budget batcher
  (deep-reason ``kg_agent/utils.py:49-81``).
- Shuffle partitions default to 2× local cores for local runs; on a real
  cluster this is overridden by ``--conf`` at spark-submit time (the code
  never assumes a partition count).
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import Future
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "deep_reason_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus.isdigit() else str(os.cpu_count() or 8)
        shuffle_partitions = max(8, 2 * int(n))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # FAIR job scheduling: the graph stage overlaps an iterative CC
        # (many tiny sequential jobs, submitted in its own on-demand
        # "cc" pool through concurrent_jobs) with bulk table writes in the
        # default pool; pools are fair-scheduled against each other,
        # while under FIFO (or within one pool) each CC micro-job queues
        # behind whole write jobs and the latency-bound thread stretches
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 4 MB split size: local corpora are small and well-compressed, and
        # a scan must fan out to strictly more tasks than cores (at 128 MB a
        # 350 MB corpus becomes 3 tasks and caps utilization at ~10%);
        # cluster deploys override this at spark-submit time where 128 MB+
        # is appropriate
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def concurrent_jobs(spark: SparkSession):
    """The one way to run Spark jobs concurrently: yields
    ``submit(thunk, pool=None) -> Future``.

    Each thunk starts at once on its own thread, with the FAIR scheduler
    pool ``pool`` set on that thread (none when ``pool`` is None). There is
    no cap on the thread count: a thunk may block on another thunk's
    future. Leaving the block joins every thunk, whether or not anyone read
    its future, and then re-raises the first failure (an exception raised
    by the block itself takes precedence). So no job submitted here
    outlives the block, and no side-job failure is dropped."""
    sc = spark.sparkContext
    threads: list[threading.Thread] = []
    failures: list[BaseException] = []

    def submit(thunk, pool: str | None = None) -> Future:
        fut: Future = Future()

        def run() -> None:
            sc.setLocalProperty("spark.scheduler.pool", pool)
            try:
                fut.set_result(thunk())
            except BaseException as exc:  # noqa: BLE001 — re-raised on exit
                failures.append(exc)
                fut.set_exception(exc)

        t = threading.Thread(target=run, name=f"concurrent_jobs-{pool}")
        t.start()
        threads.append(t)
        return fut

    try:
        yield submit
    finally:
        for t in threads:
            t.join()
    if failures:
        raise failures[0]

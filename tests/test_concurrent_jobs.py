"""session.concurrent_jobs — the one way the engine runs Spark jobs
concurrently: every thunk is joined on exit, the first failure is
re-raised even when nobody read that thunk's future, each thunk runs in
its own FAIR pool, and the thread count is never capped below the number
of thunks."""

from __future__ import annotations

import threading
import time
from concurrent.futures import wait

import pytest

from deep_reason_spark.session import concurrent_jobs


def test_unread_failure_is_reraised_after_every_thunk_finished(spark):
    finished = []

    def slow():
        time.sleep(0.5)
        finished.append("slow")

    def boom():
        raise RuntimeError("side job failed")

    with pytest.raises(RuntimeError, match="side job failed"):
        with concurrent_jobs(spark) as submit:
            submit(slow)
            submit(boom)  # its future is never read
    assert finished == ["slow"]


def test_first_failure_wins(spark):
    def first():
        raise ValueError("first")

    with pytest.raises(ValueError, match="first"):
        with concurrent_jobs(spark) as submit:
            fut = submit(first)

            def second():
                wait([fut])
                raise KeyError("second")

            submit(second)


def test_exit_waits_for_thunks_and_returns_results(spark):
    def job():
        time.sleep(0.3)
        return spark.range(10).count()

    with concurrent_jobs(spark) as submit:
        futs = [submit(job) for _ in range(3)]
    assert all(f.done() for f in futs)
    assert [f.result() for f in futs] == [10, 10, 10]


def test_each_thunk_sees_its_own_pool(spark):
    def pool():
        return spark.sparkContext.getLocalProperty("spark.scheduler.pool")

    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "caller")
    try:
        with concurrent_jobs(spark) as submit:
            futs = {name: submit(pool, pool=name)
                    for name in ("cc", "ontology", "nodes", "worklist")}
            unpooled = [submit(pool) for _ in range(4)]
    finally:
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)
    assert {n: f.result() for n, f in futs.items()} == {
        n: n for n in futs}
    assert [f.result() for f in unpooled] == [None] * 4


def test_thread_count_is_not_capped_below_thunk_count(spark):
    """Write thunks block on build futures: every thunk must be running
    at the same time, or the wave deadlocks."""
    n = 24
    barrier = threading.Barrier(n, timeout=30)
    with concurrent_jobs(spark) as submit:
        futs = [submit(barrier.wait) for _ in range(n)]
    assert sorted(f.result() for f in futs) == list(range(n))

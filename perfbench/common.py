"""Session, run context and small helpers shared by the workloads.

Everything a run writes lives under its work directory inside the
checkout: Spark's local and warehouse dirs, the JVM and Python temp dirs,
the event log and the generated inputs.
"""

from __future__ import annotations

import gc
import glob
import hashlib
import os
import shutil
import statistics
import subprocess
import tempfile
import time

CORES = 4
DRIVER_MEMORY = "3g"
SETUP_REPS = 3


def repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def start_spark(work: str, app_name: str, extra_conf: dict[str, str] | None = None):
    """The engine's own session factory, local[CORES], all scratch in ``work``."""
    from deep_reason_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root(), os.environ.get("PYTHONPATH")) if p)
    # no hsperfdata file in /tmp, from the launcher JVM or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # the environment variable, if set, would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    conf.update(extra_conf or {})
    spark = get_spark(app_name=app_name, master=f"local[{CORES}]",
                      shuffle_partitions=2 * CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait until it has exited
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)


def force(df) -> None:
    """Materialize fully on executors without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()


def drain_jvm_state(spark) -> None:
    """Release pinned JVM state between timed sections: Python references
    first, then the SQL cache, then every persisted or locally
    checkpointed RDD. Without this, blocks pinned by the build starve the
    fold's execution memory."""
    gc.collect()
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def driver_peak_rss_mb(spark) -> float:
    """VmHWM (peak resident set) of the driver JVM, in MB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError("VmHWM not found in /proc status")


def median(values) -> float:
    return float(statistics.median(values))


def median_setup(prepare, work: str, name: str):
    """Run ``prepare(dir)`` ``SETUP_REPS`` times → (first output dir, median
    seconds, every repetition's seconds). Later repetitions write to
    throwaway dirs."""
    keep = os.path.join(work, name)
    secs = []
    for r in range(SETUP_REPS):
        d = keep if r == 0 else f"{keep}.rep{r}"
        t0 = time.perf_counter()
        prepare(d)
        secs.append(time.perf_counter() - t0)
        if r:
            shutil.rmtree(d)
    return keep, median(secs), secs


def source_digest(root: str, package: str) -> str:
    """sha256 over the Python sources of ``package`` (the checkout has no
    .git, so this identifies the code a run measured)."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, package, "**", "*.py"),
                                 recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def run_context(spark, seed: int, root: str) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "cores": CORES,
        "commit": git_commit(root),
        "source_sha256": source_digest(root, "deep_reason_spark"),
        "bench_sha256": source_digest(root, "perfbench"),
        "spark_version": spark.version,
        "java_version": jvm.java.lang.System.getProperty("java.version"),
    }

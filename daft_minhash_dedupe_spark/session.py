"""SparkSession factory with the engine's scale-oriented defaults.

AQE on (runtime re-plan, partition coalescing, skew-join splitting) replaces
the prior art's static shuffle-partition tuning
(references/chengmao_minhash_spark.py:382-397). Arrow is enabled for the one
pandas UDF on the pipeline path (the MinHash kernel) and for frames built from
driver-side Arrow tables. Iceberg catalog config is attached only when the
runtime jar is actually present (the sandbox has none — parquet fallback in
io.py).

Local driver JVMs raise C2 thresholds: C2 threads took 11-14.5 s of a cold op's ~25 s CPU.
A 2000-class codegen cache stops each fold re-running Janino on 131-138 evicted classes.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # NOTE: AQE's byte-based partition coalescing is correct for the
    # shuffle-heavy relational stages (joins/CC iterations) — forcing a
    # smaller minPartitionSize floor measured INVERSE scaling (tiny-task
    # overhead). CPU-heavy narrow text stages are instead pinned to core
    # count with explicit repartition() in the pipeline.
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # bound each Arrow batch handed to the minhash kernel (memory ceiling)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    "spark.sql.session.timeZone": "UTC",
    # generous INITIAL shuffle partitioning: AQE coalesces small shuffles
    # down (so tiny runs don't pay tiny-task overhead) but cannot split a
    # too-coarse initial count — 64 measured a 35% throughput loss vs 256 at
    # 10^7 docs (27.9k → 37.7k docs/s, spill-bound CC/band shuffles)
    "spark.sql.shuffle.partitions": "256",
    # Straggler defense: relaunch tasks that run far past their stage's
    # 90th percentile. Observed failure this defends against (round 5, this
    # sandbox): a hypervisor-throttle window (39% CPU steal) lost a
    # JVM<->Python-worker socket wakeup — the executor thread parked in
    # EPoll.wait on PythonRunner's reader while the worker slept in
    # wait_woken, deadlocking one task of 32 forever at 0% CPU. On a real
    # cluster the same class of hang (bad node, flaky NIC) is routine;
    # speculation re-runs the task and the OutputCommitCoordinator
    # deduplicates commits. Conservative multiplier/quantile so healthy
    # skewed tasks aren't double-run.
    # CAVEAT (verified against spark-core 4.1.2 bytecode): TaskSchedulerImpl
    # only starts the speculation scheduler when NOT in local mode, so these
    # settings are cluster-only. In-sandbox resilience to the same hang comes
    # from task retries instead — get_spark() rewrites bare local[N] masters
    # to local[N,4] below, matching the cluster default spark.task.maxFailures
    # (local mode otherwise allows exactly ONE task failure per job).
    "spark.speculation": "true",
    "spark.speculation.multiplier": "4",
    "spark.speculation.quantile": "0.9",
    # when a Python worker dies mid-task (host OOM kill, hard fault), dump its
    # traceback into the executor log so the retry is diagnosable
    "spark.python.worker.faulthandler.enabled": "true",
    "spark.ui.enabled": "false",
    # static: holds every generated class of a run's plans, so a repeated
    # operation reuses them instead of recompiling (Spark's default: 100)
    "spark.sql.codegen.cache.maxEntries": "2000",
}

# HotSpot's tier-4 (C2) thresholds at 4x the JDK 17 defaults: start-up and
# planner code run a few thousand times stays in C1, truly hot loops still
# cross them within a fraction of a second
C2_THRESHOLDS = (
    "-XX:Tier4InvocationThreshold=20000 -XX:Tier4MinInvocationThreshold=2400 "
    "-XX:Tier4CompileThreshold=60000 -XX:Tier4BackEdgeThreshold=160000"
)


def _with_local_task_retries(master: str, max_failures: int = 4) -> str:
    """Rewrite ``local[N]``/``local[*]``/``local`` to ``local[N,F]``.

    Local mode defaults to maxFailures=1: one Python-worker crash kills the
    whole job (a 2×10⁷-doc run on a loaded host died of one), where a real
    cluster would retry the task up to spark.task.maxFailures=4 times.
    Masters that already carry a failure count (``local[8,2]``) and
    non-local masters pass through untouched. Bare
    ``local`` means ONE thread in Spark, so it rewrites to ``local[1,4]`` —
    preserving parallelism, only adding retries.
    """
    m = re.fullmatch(r"local(?:\[(\*|\d+)\])?", master.strip())
    if not m:
        return master
    return f"local[{m.group(1) or '1'},{max_failures}]"


def _local_driver_java_options(master: str) -> str | None:
    """JVM options of a local master's driver, which runs every task.

    Every local master raises the C2 thresholds (``C2_THRESHOLDS``).

    The JVM's default G1 collector treats Spark's 1-16 MB sort pages and
    parquet buffers as humongous objects on a few-GB heap; the GC bursts
    they trigger make G1 grow the heap by an amount set by recent pause
    times, so the same 3000-page run's resident set swung from 2.0 to
    2.8 GB (local[4]). The serial collector sizes the heap from free-space
    ratios alone: the same runs held 1.71-1.78 GB at equal CPU. It stops
    every task thread while one thread collects, a cost that grows with
    the thread count, so wider masters keep the JVM's default. Cluster
    masters get no options: neither choice was measured there."""
    m = re.fullmatch(r"local\[(\*|\d+),\d+\]", master)
    if not m:
        return None
    threads = (os.cpu_count() or 1) if m.group(1) == "*" else int(m.group(1))
    return f"-XX:+UseSerialGC {C2_THRESHOLDS}" if threads <= 4 else C2_THRESHOLDS


def get_spark(
    master: str | None = None,
    app_name: str = "daft_minhash_dedupe_spark",
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    master = _with_local_task_retries(master)
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    if master.startswith("local"):
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
        )
        java_options = _local_driver_java_options(master)
        if java_options:
            builder = builder.config("spark.driver.extraJavaOptions", java_options)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

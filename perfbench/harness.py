"""Session life cycle shared by the workloads: timed set-up rounds, the
warmup, peak memory, on-disk bytes and shutdown of every process started."""

from __future__ import annotations

import os
import statistics
import time

import env

SETUP_ROUNDS = 3


def warmup(spark) -> None:
    """JVM codegen, shuffle and parquet paths, plus the Arrow Python
    workers (through a module-scope pandas UDF of the package)."""
    from pyspark.sql import functions as F

    from collection_templates_spark.functions.udfs import suffix_stem_udf

    spark.range(0, 1 << 16, 1, 4).groupBy((F.col("id") % 7).alias("k")).count().collect()
    spark.range(0, 1024, 1, 4).select(
        suffix_stem_udf(F.col("id").cast("string")).alias("s")
    ).write.format("noop").mode("overwrite").save()


# a traced run reads every job and stage of its spans from the status store
TRACE_CONF = {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}


def setup_rounds(ready, trace: bool = False, rounds: int = SETUP_ROUNDS):
    """Set up ``rounds`` times: session start, warmup, then
    ``ready(spark, last)``. The first round also launches the JVM; later
    rounds stop the previous session first (untimed). Returns the last
    session, the median round and every round's seconds."""
    from collection_templates_spark.session import get_spark

    conf = {**env.spark_conf(), **(TRACE_CONF if trace else {})}
    spark = None
    seconds = []
    for k in range(rounds):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=conf)
        warmup(spark)
        ready(spark, k == rounds - 1)
        seconds.append(time.perf_counter() - t0)
    return spark, statistics.median(seconds), seconds


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python driver."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024.0


def dir_mb(*paths: str) -> float:
    total = 0
    for p in paths:
        for root, _, files in os.walk(p):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total / 1e6


def shutdown() -> None:
    """Stop the active session and the JVM behind it, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()

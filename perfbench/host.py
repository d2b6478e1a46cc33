"""The host block recorded with every result: what ran, on what, and how
fast this host did fixed register arithmetic before and after the timed runs
(a slower canary after than before shows the host was busy), and the share
of CPU time the hypervisor took during the timed runs."""

from __future__ import annotations

import os
import platform
import time

import duckdb
from pyspark.sql import functions as F

CANARY_ROWS = 1_000_000


def canary_rows_per_sec(spark) -> float:
    """32 chained xxhash64 rounds per row over ``spark.range``: no scan, no
    shuffle, no Python. It moves with CPU availability, and early in a JVM
    also with JIT warm-up, so the reading after the timed runs is usually the
    higher one."""
    col = F.col("id")
    for i in range(32):
        col = F.xxhash64(col, F.lit(i))
    expr = F.sum(F.pmod(col, F.lit(1_000_000)))
    best = 0.0
    for _ in range(2):  # the first also compiles; keep the faster
        t0 = time.perf_counter()
        spark.range(CANARY_ROWS).select(expr).collect()
        best = max(best, CANARY_ROWS / (time.perf_counter() - t0))
    return best


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs from /proc/stat: the share of
    time the hypervisor gave this host's CPUs to someone else."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def jvm_peak_rss_mb() -> float:
    """``VmHWM`` of the driver JVM (local mode: driver and executors)."""
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from the JVM's /proc status")


def host_block(spark, seed: int, rows: int, input_bytes: int, canary_pre: float,
               canary_post: float, steal: float) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "python": platform.python_version(),
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "spark": spark.version,
        "duckdb": duckdb.__version__,
        "seed": seed,
        "input_rows": rows,
        "input_bytes": input_bytes,
        "canary_rows_per_sec_before": canary_pre,
        "canary_rows_per_sec_after": canary_post,
        "cpu_steal_share_timed": steal,
    }

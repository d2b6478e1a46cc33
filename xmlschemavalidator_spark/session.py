"""SparkSession builder with scale-oriented defaults.

Settings chosen for the 100 TB design point but harmless locally:
AQE on (runtime coalesce + skew-join splitting), Arrow on (pandas-UDF hot
paths are batch-vectorized), and shuffle partitions sized to the local core
count (a real cluster overrides via spark-submit conf).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "xmlschemavalidator-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or (int(cpus) if str(cpus).isdigit() else 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the event-time buckets of the driver queries (events_durbin_watson,
        # crawl_rate_audit and others) cast NTZ->LTZ for unix_micros; UTC
        # reads that wall time as DuckDB's naive-is-UTC epoch_us does
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    pandas-UDF / mapInPandas closures reference module-level helpers, which
    cloudpickle serializes BY REFERENCE (module + qualname) — so executors
    must be able to import ``xmlschemavalidator_spark``. Driver-side
    ``sys.path`` edits don't propagate to workers; a --py-files zip does.
    Building + registering the zip here makes the package location-independent
    (no-op if the zip was already added, e.g. by spark-submit).

    The zip path is per process: sessions started side by side on one host
    would otherwise rewrite each other's zip under their running tasks,
    which then fail with "exists and does not match contents". The zip is
    removed when the process exits."""
    import atexit
    import tempfile
    import zipfile

    import xmlschemavalidator_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    out = os.path.join(
        tempfile.gettempdir(), f"xmlschemavalidator_spark_autoship_{os.getpid()}.zip"
    )
    try:
        with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
            for dirpath, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in dirpath:
                    continue
                for f in sorted(files):
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        rel = os.path.join(
                            "xmlschemavalidator_spark", os.path.relpath(full, pkg_dir)
                        )
                        z.write(full, rel)
        spark.sparkContext.addPyFile(out)
        atexit.register(_remove_quietly, out)
    except Exception:
        pass  # e.g. Spark Connect without addPyFile; --py-files covers prod


def _remove_quietly(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def free_local_checkpoint(df) -> None:
    """Release a local checkpoint's RDD blocks. ``Dataset.unpersist()``
    only uncaches CacheManager entries — a ``localCheckpoint``'s blocks
    live in RDD storage behind the plan's LogicalRDD node, so iterative
    operators (connected components, alternating star) and multi-stage
    pipelines that checkpoint per round would otherwise keep every
    round's blocks for the session's lifetime (review finding). Only call
    on frames nothing references anymore: a truncated checkpoint cannot
    be recomputed after unpersisting."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # cleanup must never fail the job; ContextCleaner will GC

"""Table layout helpers: partitioned writes that enable partition pruning.

Iceberg itself isn't in this container; Hive-style partitioned parquet has
the same pruning contract (the manifest/resume layer is layout-agnostic —
it keys on a partition COLUMN, however the files are organized). The rule
at 100 TB: the validation job's heaviest filters (snapshot date, lang
bucket, url-hash bucket) must be PARTITION columns so scans prune files,
not rows.

:func:`write_partitioned` is the one dynamic-overwrite writer: the resume
manifest, the streaming violations sink, the drift monitor and the drift
baseline store all write through it. Dynamic overwrite is an option of
that one writer; the session's ``partitionOverwriteMode`` is never set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def with_bucket(df: DataFrame, key: str, n_buckets: int, col_name: str = "bucket") -> DataFrame:
    """Deterministic hash-bucket column — the Iceberg ``bucket(n, key)``
    transform analogue; used as the partition/commit unit."""
    return df.withColumn(
        col_name, F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    )


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Partitioned parquet write with dynamic overwrite: re-running a subset
    replaces exactly its own partitions (the idempotence the resume layer
    relies on) and leaves every other partition under ``path`` alone."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def read_partition(spark: SparkSession, path: str, **equals) -> DataFrame:
    """Read with partition-pruning filters (kwargs are equality predicates
    on partition columns). The resulting scan must show PartitionFilters —
    asserted in tests, the files never open."""
    df = spark.read.parquet(path)
    for col, val in equals.items():
        df = df.where(F.col(col) == F.lit(val))
    return df

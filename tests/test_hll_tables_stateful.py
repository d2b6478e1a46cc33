"""HLL sketch merge, partition pruning and the partitioned writer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xmlschemavalidator_spark.checks.hll import (
    column_sketches,
    distinct_drift,
    save_sketches,
    union_sketches,
)
from xmlschemavalidator_spark.tables import read_partition, with_bucket, write_partitioned


def test_hll_sketch_estimates(spark):
    df = spark.createDataFrame([(f"v{i % 50}", i % 7) for i in range(1000)], "s string, n int")
    got = {r["column"]: r["estimate"] for r in column_sketches(df, ["s", "n"]).collect()}
    assert got["s"] == pytest.approx(50, rel=0.05)
    assert got["n"] == pytest.approx(7, abs=1)


def test_hll_union_across_runs(spark, tmp_path):
    a = spark.createDataFrame([(f"a{i}",) for i in range(100)], "s string")
    b = spark.createDataFrame([(f"a{i}",) for i in range(50, 150)], "s string")
    sk_a, sk_b = column_sketches(a, ["s"]), column_sketches(b, ["s"])
    merged = union_sketches(sk_a, sk_b)
    est = merged.collect()[0]["estimate"]
    assert est == pytest.approx(150, rel=0.05)  # |a ∪ b| = 150, not 200


def test_hll_drift_vs_saved_baseline(spark, tmp_path):
    base = spark.createDataFrame([(f"k{i % 20}",) for i in range(500)], "s string")
    save_sketches(column_sketches(base, ["s"]), str(tmp_path / "b"))
    cur = spark.createDataFrame([(f"k{i % 80}",) for i in range(500)], "s string")
    row = distinct_drift(column_sketches(cur, ["s"]), str(tmp_path / "b")).collect()[0]
    assert row["ratio"] == pytest.approx(4.0, rel=0.1)


def test_partition_pruning(spark, tmp_path):
    df = with_bucket(
        spark.createDataFrame([(f"u{i}", i) for i in range(200)], "url string, n int"),
        "url", 8,
    )
    path = str(tmp_path / "t")
    write_partitioned(df, path, ["bucket"])
    pruned = read_partition(spark, path, bucket=3)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan and "(bucket#" in plan
    assert pruned.count() == df.where(F.col("bucket") == 3).count() > 0


def test_dynamic_overwrite_replaces_own_partition_only(spark, tmp_path):
    df = with_bucket(
        spark.createDataFrame([(f"u{i}", i) for i in range(100)], "url string, n int"),
        "url", 4,
    )
    path = str(tmp_path / "t")
    write_partitioned(df, path, ["bucket"])
    before = spark.read.parquet(path).count()
    # rewrite only bucket 1 with fewer rows
    sub = df.where(F.col("bucket") == 1).limit(2)
    write_partitioned(sub, path, ["bucket"])
    after = spark.read.parquet(path)
    assert after.where(F.col("bucket") == 1).count() == 2
    assert after.where(F.col("bucket") != 1).count() == before - df.where(
        F.col("bucket") == 1
    ).count()


def test_write_partitioned_leaves_session_conf_alone(spark, tmp_path):
    """Dynamic overwrite is an option of the writer: the session's
    partitionOverwriteMode is the same after write_partitioned as before,
    and a rewrite under the default (static) session mode still replaces
    only its own partition."""
    conf = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(conf)
    before = spark.conf.get(conf)
    df = with_bucket(
        spark.createDataFrame([(f"u{i}", i) for i in range(40)], "url string, n int"),
        "url", 4,
    )
    path = str(tmp_path / "t")
    write_partitioned(df, path, ["bucket"])
    assert spark.conf.get(conf) == before
    write_partitioned(df.where(F.col("bucket") == 2).limit(1), path, ["bucket"])
    assert spark.conf.get(conf) == before
    after = spark.read.parquet(path)
    assert after.where(F.col("bucket") == 2).count() == 1
    assert after.where(F.col("bucket") != 2).count() == df.where(F.col("bucket") != 2).count()

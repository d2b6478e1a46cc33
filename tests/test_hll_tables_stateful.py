"""HLL sketch merge, partition pruning, and stateful streaming dedup."""

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


def test_stream_dedup_first_seen(spark, tmp_path):
    from xmlschemavalidator_spark.streaming.stateful import stream_dedup_first_seen

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("u1", "a"), ("u2", "b"), ("u1", "c"), ("u3", "d"), ("u2", "e"), ("u1", "f")],
        "url string, payload string",
    ).repartition(3).write.parquet(src)
    sdf = spark.readStream.schema("url string, payload string").parquet(src)
    deduped = stream_dedup_first_seen(sdf, "url", ["payload"])
    q = (
        deduped.writeStream.format("memory").queryName("t_dedup")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_dedup").collect()
    urls = sorted(r["url"] for r in rows)
    assert urls == ["u1", "u2", "u3"]  # exactly one row per distinct key


def test_stream_near_dedup_first_seen(spark, tmp_path):
    """Ingest-time near-dedup: exact re-crawls AND token-identical rewraps
    (same shingle set -> same MinHash signature) collapse to the first
    arrival; genuinely different docs and short unshingleable docs pass
    through individually."""
    from xmlschemavalidator_spark.streaming.stateful import (
        stream_near_dedup_first_seen,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different subject matter about databases and storage"
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [
            ("d1", base),
            ("d2", base),            # exact dup -> dropped
            ("d3", "  " + base + "  "),  # same tokens/shingles -> dropped
            ("d4", other),           # different -> kept
            ("d5", "tiny"),          # unshingleable -> exact-fp key, kept
            ("d6", "weeny"),         # unshingleable but different -> kept
            ("d7", "tiny"),          # exact dup of d5 -> dropped
        ],
        "doc_id string, text string",
    ).repartition(3).write.parquet(src)
    sdf = spark.readStream.schema("doc_id string, text string").parquet(src)
    deduped = stream_near_dedup_first_seen(sdf, ["doc_id", "text"])
    assert deduped.columns == ["doc_id", "text"]  # no internal key leaks
    q = (
        deduped.writeStream.format("memory").queryName("t_near_dedup")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_near_dedup").collect()
    texts = sorted(r["text"].strip() for r in rows)
    assert len(rows) == 4
    assert texts == sorted([base, other, "tiny", "weeny"])


def test_stream_latest_capture(spark, tmp_path):
    """Cross-batch latest-capture: batch 1 emits each URL's newest
    capture; batch 2 re-emits only strictly newer re-crawls (older and
    equal-ts arrivals drop at ingest); undated captures never emit."""
    from xmlschemavalidator_spark.streaming.stateful import (
        stream_latest_capture,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    schema = "doc_id string, url string, warc_ts long, text string"

    def run_batch(rows):
        # file sink (not memory): cross-batch state needs checkpoint
        # recovery, which the memory sink does not support
        spark.createDataFrame(rows, schema).repartition(2).write.mode(
            "append"
        ).parquet(src)
        sdf = spark.readStream.schema(schema).parquet(src)
        out = stream_latest_capture(
            sdf, "url", "warc_ts", ["doc_id", "text"]
        )
        q = (
            out.writeStream.format("parquet").option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        if not q.awaitTermination(300):
            raise TimeoutError("stream_latest_capture batch did not finish")
        return spark.read.parquet(sink).collect()

    got1 = run_batch(
        [
            ("d1", "http://a.com/x", 100, "old"),
            ("d2", "http://A.com/x/", 200, "new"),   # same canonical, newer
            ("d3", "http://b.com/y", 150, "b"),
            ("d4", "http://c.com/z", None, "undated"),
        ]
    )
    by_url1 = {(r["canonical_url"], r["capture_ts"]) for r in got1}
    assert by_url1 == {("http://a.com/x", 200), ("http://b.com/y", 150)}

    got2 = run_batch(
        [
            ("d5", "http://a.com/x", 180, "older recrawl"),  # drop
            ("d6", "http://b.com/y", 150, "same ts"),        # drop
            ("d7", "http://b.com/y", 300, "newer"),          # emit
        ]
    )
    assert len(got2) == len(got1) + 1
    newest = {r["capture_ts"] for r in got2} - {r["capture_ts"] for r in got1}
    assert newest == {300}


def test_stream_sessionize_matches_batch(spark, tmp_path):
    """Cross-batch streaming sessionization: state carries (last ts,
    session counter) across micro-batches — a cross-batch continuation
    stays in its session, a cross-batch gap opens a new one, and the
    full sink is row-identical to batch sessionize over the union of
    everything streamed (the batch-equivalence contract the driver
    oracle relies on). Within-batch arrival order must not matter."""
    import datetime as dt

    from pyspark.sql import functions as F

    from xmlschemavalidator_spark.streaming.stateful import stream_sessionize
    from xmlschemavalidator_spark.temporal import sessionize

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    schema = "event_id bigint, user_id bigint, ts timestamp"
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        sdf = spark.readStream.schema(schema).parquet(src)
        out = stream_sessionize(sdf, "user_id", "ts", 3600, "event_id")
        q = (
            out.writeStream.format("parquet").option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        if not q.awaitTermination(300):
            raise TimeoutError("stream_sessionize batch did not finish")

    # batch 1 — user 1: two events 30 min apart (one session); user 2: one
    # event. Rows deliberately NOT in ts order within the batch.
    b1 = [
        (2, 1, t0 + dt.timedelta(minutes=30)),
        (1, 1, t0),
        (10, 2, t0),
    ]
    # batch 2 — user 1: +50 min (continuation of session 1 ACROSS the
    # batch boundary), then +5 h (gap > 1 h -> session 2); user 2: +2 h
    # (gap > 1 h -> session 2)
    b2 = [
        (4, 1, t0 + dt.timedelta(hours=6)),
        (3, 1, t0 + dt.timedelta(minutes=50)),
        (11, 2, t0 + dt.timedelta(hours=2)),
    ]
    run_batch(b1)
    run_batch(b2)
    got = {
        (int(r["user_id"]), int(r["event_id"])): r["session_seq"]
        for r in spark.read.parquet(sink).collect()
    }
    want_df = sessionize(
        spark.createDataFrame(b1 + b2, schema),
        on="user_id", ts="ts", gap_seconds=3600, order_col="event_id",
    )
    want = {
        (r["user_id"], r["event_id"]): r["session_seq"]
        for r in want_df.collect()
    }
    assert got == want
    assert want[(1, 3)] == 1 and want[(1, 4)] == 2  # the cross-batch edges


def test_stream_order_violations_cross_batch_watermark(spark, tmp_path):
    """The per-key max-ts watermark survives the micro-batch boundary: a
    batch-2 row older than batch-1's max flags against THAT max, and
    in-order rows never flag."""
    import datetime as dt

    from xmlschemavalidator_spark.streaming.stateful import (
        stream_order_violations,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    schema = "event_id bigint, user_id bigint, ts timestamp"
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        sdf = spark.readStream.schema(schema).parquet(src)
        out = stream_order_violations(sdf, "user_id", "ts", "event_id")
        q = (
            out.writeStream.format("parquet").option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        if not q.awaitTermination(300):
            raise TimeoutError("stream_order_violations batch did not finish")

    # batch 1 — user 1 advances to t0+2h, with one in-batch regression
    b1 = [
        (1, 1, t0),
        (2, 1, t0 + dt.timedelta(hours=2)),
        (3, 1, t0 + dt.timedelta(hours=1)),  # < watermark 2h: flags
        (10, 2, t0),
    ]
    run_batch(b1)
    # batch 2 — user 1: event older than the CROSS-BATCH watermark flags;
    # user 2 stays in order and never flags
    b2 = [
        (4, 1, t0 + dt.timedelta(minutes=90)),  # < 2h watermark: flags
        (5, 1, t0 + dt.timedelta(hours=3)),     # advances, clean
        (11, 2, t0 + dt.timedelta(hours=1)),
    ]
    run_batch(b2)

    got = {
        r["event_id"]: r
        for r in spark.read.schema(
            "user_id string, event_id string, ts_us long, prev_max_us long"
        ).parquet(sink).collect()
    }
    assert sorted(got) == ["3", "4"]
    assert got["3"]["prev_max_us"] == got["4"]["prev_max_us"]  # same watermark
    assert got["4"]["user_id"] == "1"


def test_stream_rate_violations_cross_batch_window(spark, tmp_path):
    """The (window, count) state survives the micro-batch boundary: a
    window filled to the limit in batch 1 trips on its first batch-2
    arrival; under-limit hosts never emit; each window trips ONCE."""
    import datetime as dt

    from xmlschemavalidator_spark.streaming.stateful import stream_rate_violations

    src = str(tmp_path / "rsrc")
    ckpt = str(tmp_path / "rckpt")
    sink = str(tmp_path / "rsink")
    schema = "host string, ts timestamp"
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    epoch0 = 1704067200

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        sdf = spark.readStream.schema(schema).parquet(src)
        out = stream_rate_violations(sdf, "host", "ts", max_per_window=2, window_s=60)
        q = (
            out.writeStream.format("parquet").option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        if not q.awaitTermination(300):
            raise TimeoutError("stream_rate_violations batch did not finish")

    # batch 1: host a fills window 0 to the limit (2); host b stays at 1
    run_batch([
        ("a", t0), ("a", t0 + dt.timedelta(seconds=10)),
        ("b", t0 + dt.timedelta(seconds=5)),
    ])
    assert spark.read.schema("host string, window_start long").parquet(sink).count() == 0
    # batch 2: host a's third hit in window 0 trips once (a 4th does not
    # re-emit); a fresh window stays quiet; host b moves on cleanly
    run_batch([
        ("a", t0 + dt.timedelta(seconds=20)),
        ("a", t0 + dt.timedelta(seconds=30)),
        ("a", t0 + dt.timedelta(seconds=90)),  # next window, count 1
        ("b", t0 + dt.timedelta(seconds=70)),
    ])
    got = sorted(
        (r["host"], r["window_start"])
        for r in spark.read.schema("host string, window_start long")
        .parquet(sink).collect()
    )
    assert got == [("a", epoch0)]

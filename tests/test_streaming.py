"""Structured Streaming tests: the compiled ruleset over a file-source
stream, availableNow trigger, memory sink; windowed violation counts with
watermark."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xmlschemavalidator_spark.compiler import FieldRule, RuleSet
from xmlschemavalidator_spark.engine import DOC_OK
from xmlschemavalidator_spark.rules.facets import Enumeration
from xmlschemavalidator_spark.rules.types import Restriction
from xmlschemavalidator_spark.streaming import stream_validate, windowed_violation_counts
from xmlschemavalidator_spark.streaming.validate_stream import stream_violations
from tests.conftest import NullBelow100


@pytest.fixture()
def stream_src(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [
            ("u1", "en", "2024-01-01 00:00:10"),
            ("u2", "xx", "2024-01-01 00:00:20"),
            ("u3", "de", "2024-01-01 00:01:30"),
            ("u4", "yy", "2024-01-01 00:01:40"),
            ("u5", "yy", "2024-01-01 00:03:40"),
        ],
        "url string, lang string, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").write.parquet(src)
    return src


def _ruleset():
    return RuleSet(rules=[FieldRule(
        "lang_enum",
        Restriction(facets=(Enumeration("en"), Enumeration("de"))),
        column="lang",
    )])


def _run(stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    return q


def test_stream_validate_verdicts(spark, stream_src):
    sdf = spark.readStream.schema("url string, lang string, ts timestamp").parquet(stream_src)
    out = stream_validate(sdf, _ruleset())
    assert out.isStreaming
    _run(out, "t_verdicts")
    got = {r["url"]: r[DOC_OK] for r in spark.sql("SELECT * FROM t_verdicts").collect()}
    assert got == {"u1": True, "u2": False, "u3": True, "u4": False, "u5": False}


def test_null_verdict_doc_ok_batch_matches_stream(spark, tmp_path):
    """A rule yielding NULL fails the row in streaming ``_doc_ok`` exactly
    as in batch ``validate()`` (it used to make the streaming verdict NULL)."""
    from xmlschemavalidator_spark.engine import validate

    src = str(tmp_path / "null_src")
    spark.createDataFrame([(1, 50), (2, 200)], "k long, v long").write.parquet(src)
    rs = RuleSet(rules=[FieldRule("maybe", NullBelow100(), column="v")])
    batch = {r["k"]: r[DOC_OK] for r in validate(spark.read.parquet(src), rs, key="k").verdicts.collect()}
    _run(stream_validate(spark.readStream.schema("k long, v long").parquet(src), rs), "t_null_ok")
    stream = {r["k"]: r[DOC_OK] for r in spark.sql("SELECT * FROM t_null_ok").collect()}
    assert batch[1] is False and stream[1] is False
    assert batch == stream == {1: False, 2: True}


def test_stream_violations_rows(spark, stream_src):
    sdf = spark.readStream.schema("url string, lang string, ts timestamp").parquet(stream_src)
    _run(stream_violations(sdf, _ruleset(), key="url"), "t_viols")
    got = sorted(tuple(r) for r in spark.sql("SELECT * FROM t_viols").collect())
    assert got == [("u2", "lang_enum", "xx"), ("u4", "lang_enum", "yy"), ("u5", "lang_enum", "yy")]


def test_windowed_violation_counts(spark, stream_src):
    sdf = spark.readStream.schema("url string, lang string, ts timestamp").parquet(stream_src)
    w = windowed_violation_counts(sdf, _ruleset(), ts_col="ts", window="1 minute")
    q = (
        w.writeStream.format("memory").queryName("t_win")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    got = {
        (str(r["window_start"]), r["rule_id"]): r["n_violations"]
        for r in spark.sql("SELECT * FROM t_win").collect()
    }
    assert got == {
        ("2024-01-01 00:00:00", "lang_enum"): 1,
        ("2024-01-01 00:01:00", "lang_enum"): 1,
        ("2024-01-01 00:03:00", "lang_enum"): 1,
    }


def test_streaming_violations_sink_idempotent(spark, tmp_path):
    from xmlschemavalidator_spark.streaming.sink import (
        StreamingViolationsSink,
        write_violations_stream,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("u1", "en"), ("u2", "xx"), ("u3", "yy")], "url string, lang string"
    ).write.parquet(src)
    sdf = spark.readStream.schema("url string, lang string").parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = write_violations_stream(sdf, _ruleset(), "url", out, ckpt)
    q.awaitTermination(120)

    written = spark.read.parquet(f"{out}/violations")
    got = sorted((r["url"], r["rule_id"]) for r in written.collect())
    assert got == [("u2", "lang_enum"), ("u3", "lang_enum")]

    sink = StreamingViolationsSink(_ruleset(), "url", out)
    epochs = sink.committed_epochs()
    assert len(epochs) >= 1
    # replay of a committed epoch must no-op (at-least-once -> exactly-once)
    batch = spark.createDataFrame([("u9", "zz")], "url string, lang string")
    sink(batch, batch_id=min(epochs))
    still = spark.read.parquet(f"{out}/violations").count()
    assert still == 2  # unchanged
    import json, os
    commit = json.load(open(os.path.join(out, "_commits", f"epoch={min(epochs)}.json")))
    assert commit["n_violations"] == 2 and commit["n_failed_docs"] == 2


def _epoch_commit(out, epoch):
    import json
    import os

    with open(os.path.join(out, "_commits", f"epoch={epoch}.json")) as fh:
        return json.load(fh)


def test_sink_commits_all_clean_first_batch(spark, tmp_path):
    """An all-clean micro-batch writes no violation data file; the sink's
    read-back must still commit zeros (a schema-inferring read of the empty
    dataset threw UNABLE_TO_INFER_SCHEMA), called directly and in a query."""
    from xmlschemavalidator_spark.streaming.sink import (
        StreamingViolationsSink,
        write_violations_stream,
    )

    clean = spark.createDataFrame([("u1", "en"), ("u2", "de")], "url string, lang string")
    direct = str(tmp_path / "direct")
    StreamingViolationsSink(_ruleset(), "url", direct)(clean, 0)
    commit = _epoch_commit(direct, 0)
    assert commit["n_violations"] == 0 and commit["n_failed_docs"] == 0

    src = str(tmp_path / "src")
    clean.write.parquet(src)
    out = str(tmp_path / "out")
    q = write_violations_stream(
        spark.readStream.schema("url string, lang string").parquet(src),
        _ruleset(), "url", out, str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert q.exception() is None
    commit = _epoch_commit(out, 0)
    assert commit["n_violations"] == 0 and commit["n_failed_docs"] == 0


def test_sink_and_manifest_count_null_key_alike(spark, tmp_path):
    """The sink and resumable_validate read written violations back the
    same way: a NULL-key violation counts as a violation but not as a
    failed document (count_distinct skips NULL keys)."""
    from xmlschemavalidator_spark.manifest import MetricsManifest, resumable_validate
    from xmlschemavalidator_spark.streaming.sink import StreamingViolationsSink

    df = spark.createDataFrame(
        [("u1", "xx"), (None, "yy"), ("u2", "en"), (None, "de"), ("u1", "zz")],
        "url string, lang string",
    )
    out = str(tmp_path / "sink")
    StreamingViolationsSink(_ruleset(), "url", out)(df, 0)
    commit = _epoch_commit(out, 0)

    [m] = resumable_validate(
        df.withColumn("part", F.lit(0)), _ruleset(), key="url", partition_col="part",
        snapshot="s", manifest=MetricsManifest(str(tmp_path / "m")),
        violations_out=str(tmp_path / "viols"),
    )
    assert (commit["n_violations"], commit["n_failed_docs"]) == (3, 1)
    assert (m.n_violations, m.n_failed_docs) == (3, 1)
    assert commit["viol_lang_enum"] == 3


def test_stream_referential(spark, stream_src):
    """Stream-static referential: langs missing from the dim (and NULL FKs)
    surface as violation rows; the static side broadcasts per batch."""
    from xmlschemavalidator_spark.streaming.validate_stream import stream_referential

    dim = spark.createDataFrame([("en",), ("de",), ("sv",)], "lang_code string")
    sdf = spark.readStream.schema("url string, lang string, ts timestamp").parquet(stream_src)
    out = stream_referential(sdf, "lang", dim, "lang_code", key="url", rule_id="lang_fk")
    _run(out, "t_ref")
    rows = sorted(
        (r["url"], r["rule_id"], r["observed_value"])
        for r in spark.sql("SELECT * FROM t_ref").collect()
    )
    assert rows == [
        ("u2", "lang_fk", "xx"),
        ("u4", "lang_fk", "yy"),
        ("u5", "lang_fk", "yy"),
    ]


def test_session_violation_bursts(spark, stream_src):
    """u2@00:20 is an isolated violation; u4@01:40 and u5@03:40 are >30s
    apart too -> three singleton sessions. With a 3-minute gap the last
    two merge."""
    from xmlschemavalidator_spark.streaming.validate_stream import session_violation_bursts

    sdf = spark.readStream.schema("url string, lang string, ts timestamp").parquet(stream_src)
    out = session_violation_bursts(sdf, _ruleset(), "ts", gap="30 seconds")
    q = (
        out.writeStream.format("memory").queryName("t_sess")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM t_sess ORDER BY session_start").collect()
    assert [r["n_violations"] for r in rows] == [1, 1, 1]

    # violation gaps are 80s (00:20->01:40) and 120s (01:40->03:40):
    # a 90s session gap merges the first pair only
    out2 = session_violation_bursts(sdf, _ruleset(), "ts", gap="90 seconds")
    q2 = (
        out2.writeStream.format("memory").queryName("t_sess2")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q2.awaitTermination(60)
    rows2 = spark.sql("SELECT * FROM t_sess2 ORDER BY session_start").collect()
    assert [r["n_violations"] for r in rows2] == [2, 1]


def test_streaming_corpus_filters_compose(spark, tmp_path):
    """The corpus-prep narrow ops (deterministic sampling, quality pass,
    within-doc line dedup, char entropy) are pure Column transforms, so
    they compose onto a stream unchanged — the batch/stream parity that
    content-addressed (rand-free) operators buy."""
    from xmlschemavalidator_spark.dedup import dedup_lines_within_doc
    from xmlschemavalidator_spark.sampling import md5_threshold
    from xmlschemavalidator_spark.textops import char_entropy, gopher_pass

    src = str(tmp_path / "docs_src")
    good = ("the quick brown fox jumps over the lazy dog and then "
            "the dog is of all dogs the most patient one indeed")
    spark.createDataFrame(
        [(i, good + "\nnav\nnav") for i in range(40)],
        "doc_id bigint, text string",
    ).write.parquet(src)

    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    # content-addressed sample is a deterministic Column predicate —
    # legal in a stream (rand()/sampleBy are not reproducible there)
    from pyspark.sql import functions as SF

    key = SF.md5(SF.concat(SF.lit("s"), SF.lit(":"), SF.col("doc_id").cast("string")))
    out = (
        stream.where(key < SF.lit(md5_threshold(0.5)))
        .where(gopher_pass(SF.col("text")))
        .select(
            "doc_id",
            dedup_lines_within_doc(SF.col("text")).alias("text"),
            SF.round(char_entropy(SF.col("text")), 3).alias("h"),
        )
    )
    q = (
        out.writeStream.format("memory")
        .queryName("corpus_filters")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM corpus_filters").collect()
    assert 10 < len(rows) < 30  # ~50% sample of the 40 quality-passing docs
    for r in rows:
        assert r["text"].count("nav") == 1  # within-doc dedup applied
        assert r["h"] is not None and r["h"] > 0


def test_per_doc_signals_compose_with_streaming(spark, tmp_path):
    """The report's per-doc signal projection is stateless, so it rides a
    stream unchanged — tag documents (quality, PII, license, scripts) at
    ingest time with the SAME code the batch report uses."""
    from xmlschemavalidator_spark.report import per_doc_signals

    src = str(tmp_path / "docs_src")
    spark.createDataFrame(
        [
            (1, "the quick brown fox and the lazy dog ran away again today", "en"),
            (2, "contact a@b.com for Creative Commons licensing", "en"),
            (3, "Привет мир", "ru"),
        ],
        "doc_id bigint, text string, lang string",
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "doc_id bigint, text string, lang string"
    ).parquet(src)
    tagged = per_doc_signals(stream, "doc_id")
    assert tagged.isStreaming
    q = (
        tagged.writeStream.format("memory")
        .queryName("sig_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc"]: r for r in spark.sql("SELECT * FROM sig_stream").collect()}
    assert len(got) == 3
    assert got[2]["n_email"] == 1 and got[2]["has_creative_commons"]
    assert got[3]["frac_cyrillic"] == 1.0
    assert got[1]["n_tokens"] == 12


def test_url_layer_composes_with_streaming(spark, tmp_path):
    """The URL layer's canonicalization/domain/badword columns are
    stateless projections, so they tag an ingest stream unchanged — the
    same Columns the batch URL stages use."""
    from pyspark.sql import functions as F

    from xmlschemavalidator_spark.weburl import (
        canonical_host,
        canonical_url,
        registered_domain,
        url_badword_pattern,
    )

    src = str(tmp_path / "url_src")
    spark.createDataFrame(
        [
            (1, "HTTP://WWW.Shop.Example.co.uk:80/a/?utm_source=x&b=1"),
            (2, "https://casino-hub.com/promo"),
        ],
        "doc_id bigint, url string",
    ).write.parquet(src)
    stream = spark.readStream.schema("doc_id bigint, url string").parquet(src)
    canon = canonical_url(F.col("url"))
    tagged = stream.select(
        "doc_id",
        canon.alias("canonical_url"),
        registered_domain(canonical_host(canon)).alias("domain"),
        F.lower(F.col("url"))
        .rlike(url_badword_pattern(["casino"]))
        .alias("url_flagged"),
    )
    assert tagged.isStreaming
    q = (
        tagged.writeStream.format("memory")
        .queryName("url_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: r for r in spark.sql("SELECT * FROM url_stream").collect()}
    assert got[1]["canonical_url"] == "http://shop.example.co.uk/a?b=1"
    assert got[1]["domain"] == "example.co.uk" and not got[1]["url_flagged"]
    assert got[2]["url_flagged"]

"""Resume-manifest tests (SURVEY.md §5 item 4): partial run → resume →
outputs identical to a single full run; commits are write-once."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xmlschemavalidator_spark.datagen import pages
from xmlschemavalidator_spark.flagship import web_ruleset
from xmlschemavalidator_spark.manifest import (
    MetricsManifest,
    PartitionMetrics,
    commit_once,
    resumable_validate,
)


@pytest.fixture()
def paged(spark):
    # a partition column like an Iceberg partition: 6 buckets over url hash
    return pages(spark, 1200, seed=11).withColumn(
        "part", F.pmod(F.xxhash64("url"), F.lit(6)).cast("int")
    ).cache()


def test_resume_skips_committed_and_matches_full_run(spark, paged, tmp_path):
    rs = web_ruleset()
    man_dir, out = str(tmp_path / "manifest"), str(tmp_path / "viols")

    # partial run: only partitions 0..2 (simulate a killed job by filtering)
    man = MetricsManifest(man_dir)
    first = resumable_validate(
        paged.where(F.col("part") < 3), rs, key="url", partition_col="part",
        snapshot="snap1", manifest=man, violations_out=out,
    )
    assert {m.partition for m in first} == {"0", "1", "2"}
    assert man.committed("snap1") == {"0", "1", "2"}

    # resume over the FULL input: must process only 3..5
    second = resumable_validate(
        paged, rs, key="url", partition_col="part",
        snapshot="snap1", manifest=man, violations_out=out,
    )
    assert {m.partition for m in second} == {"3", "4", "5"}

    # union of both runs == one fresh full run
    man2 = MetricsManifest(str(tmp_path / "manifest2"))
    full = resumable_validate(
        paged, rs, key="url", partition_col="part",
        snapshot="snapX", manifest=man2, violations_out=str(tmp_path / "viols2"),
    )
    resumed = {m.partition: (m.n_rows, m.n_failed_docs, m.n_violations) for m in first + second}
    fresh = {m.partition: (m.n_rows, m.n_failed_docs, m.n_violations) for m in full}
    assert resumed == fresh
    got = sorted(tuple(r) for r in spark.read.parquet(out).drop("part").collect())
    want = sorted(tuple(r) for r in spark.read.parquet(str(tmp_path / "viols2")).drop("part").collect())
    assert got == want and len(got) > 0


def test_commit_is_write_once(tmp_path):
    man = MetricsManifest(str(tmp_path / "m"))
    m = PartitionMetrics("s", "7", 10, 1, 2, 0.5, 0.0)
    assert man.commit(m) is True
    assert man.commit(m) is False  # idempotent under retry/speculation
    assert len(man.metrics("s")) == 1


def test_commit_once_raises_on_link_failure_other_than_a_lost_race(tmp_path, monkeypatch):
    """Only EEXIST from the hard link means another committer won. Any
    other error (EPERM on a file system without hard links) must raise,
    leaving neither a commit nor a temp file behind."""

    def link_fails(err):
        def link(src, dst):
            raise err(f"link {src} -> {dst}")

        return link

    monkeypatch.setattr("os.link", link_fails(PermissionError))
    with pytest.raises(PermissionError):
        commit_once(str(tmp_path), "part", 3, {"n_rows": 1})
    assert list(tmp_path.iterdir()) == []

    monkeypatch.setattr("os.link", link_fails(FileExistsError))
    assert commit_once(str(tmp_path), "part", 3, {"n_rows": 1}) is False
    assert list(tmp_path.iterdir()) == []


def test_rerun_after_full_commit_is_noop(spark, paged, tmp_path):
    man = MetricsManifest(str(tmp_path / "m"))
    rs = web_ruleset()
    out = str(tmp_path / "v")
    resumable_validate(paged, rs, key="url", partition_col="part",
                       snapshot="s", manifest=man, violations_out=out)
    again = resumable_validate(paged, rs, key="url", partition_col="part",
                               snapshot="s", manifest=man, violations_out=out)
    assert again == []


def test_metrics_anomalies(tmp_path):
    """A partition whose violation rate jumps far outside its history is
    flagged; stable partitions and cold starts are not."""
    import time as _time

    from xmlschemavalidator_spark.manifest import MetricsManifest, PartitionMetrics

    man = MetricsManifest(str(tmp_path / "m"))
    # three history snapshots: p0 stable at ~1% violations, p1 noisy-stable
    for i, snap in enumerate(("s1", "s2", "s3")):
        man.commit(PartitionMetrics(snap, "p0", 1000, 10, 10 + i, 1.0, _time.time()))
        man.commit(PartitionMetrics(snap, "p1", 1000, 50, 50 + 5 * i, 1.0, _time.time()))
        man.commit(PartitionMetrics(snap, "pcold", 1000, 5, 5, 1.0, _time.time()))
    # current: p0 explodes, p1 stays in range; pnew has no history at all
    man.commit(PartitionMetrics("s4", "p0", 1000, 400, 400, 1.0, _time.time()))
    man.commit(PartitionMetrics("s4", "p1", 1000, 55, 55, 1.0, _time.time()))
    man.commit(PartitionMetrics("s4", "pnew", 1000, 999, 999, 1.0, _time.time()))

    flagged = man.anomalies("s4", z=3.0)
    parts = {f["partition"] for f in flagged}
    assert "p0" in parts
    assert "p1" not in parts
    assert "pnew" not in parts  # cold start: no judgement
    p0 = [f for f in flagged if f["partition"] == "p0" and f["metric"] == "violation_rate"][0]
    assert p0["z"] > 3

    # two-point history is below min_history -> silent
    assert man.anomalies("s4", history=["s1", "s2"], z=3.0) == [] or all(
        f["partition"] != "pcold" for f in man.anomalies("s4", history=["s1", "s2"])
    )


def test_resumable_validate_all_clean(spark, tmp_path):
    """A batch with ZERO violations writes no parquet data files; the
    metrics read-back must not crash on the empty dataset (the clean table
    is the common case for a validation job)."""
    from pyspark.sql import functions as F

    from xmlschemavalidator_spark.compiler import FieldRule, RuleSet
    from xmlschemavalidator_spark.manifest import MetricsManifest, resumable_validate
    from xmlschemavalidator_spark.rules.facets import MinInclusive
    from xmlschemavalidator_spark.rules.types import Restriction

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("part"),
        (F.col("id") % 50 + 100).alias("v"),  # all pass v >= 0
    )
    rs = RuleSet(rules=[FieldRule(
        "v_min", Restriction(base="integer", facets=(MinInclusive(0),)), column="v"
    )])
    man = MetricsManifest(str(tmp_path / "m"))
    committed = resumable_validate(
        df, rs, key="k", partition_col="part", snapshot="clean",
        manifest=man, violations_out=str(tmp_path / "viols"),
    )
    assert len(committed) == 4
    assert all(m.n_violations == 0 and m.n_failed_docs == 0 for m in committed)
    assert sum(m.n_rows for m in committed) == 1000


def test_anomaly_history_ordered_by_commit_time_not_id(tmp_path):
    """round-3 ADVICE: uuid-style snapshot ids don't sort chronologically;
    the default history must come from commit timestamps, not string
    comparison. Here the scored snapshot 'b0b0' sorts lexicographically
    BEFORE two of its three predecessors — string ordering would see only
    1 prior (< min_history, silent); commit-time ordering sees all 3 and
    flags the exploded partition."""
    from xmlschemavalidator_spark.manifest import MetricsManifest, PartitionMetrics

    man = MetricsManifest(str(tmp_path / "m"))
    # commit order: zz-9 (t=100), aa-1 (t=200), ff-5 (t=300), scored b0b0 (t=400)
    for snap, t, nv in (("zz-9", 100.0, 10), ("aa-1", 200.0, 11), ("ff-5", 300.0, 12)):
        man.commit(PartitionMetrics(snap, "p0", 1000, nv, nv, 1.0, t))
    man.commit(PartitionMetrics("b0b0", "p0", 1000, 500, 500, 1.0, 400.0))

    assert man.snapshot_times() == {"zz-9": 100.0, "aa-1": 200.0, "ff-5": 300.0, "b0b0": 400.0}
    flagged = man.anomalies("b0b0", z=3.0, min_history=3)
    assert {f["partition"] for f in flagged} == {"p0"}

    # scoring a MID-history snapshot never sees later commits: ff-5 has
    # only 2 chronological priors -> below min_history, silent
    assert man.anomalies("ff-5", z=3.0, min_history=3) == []


def test_anomaly_history_excludes_interleaved_later_commits(tmp_path):
    """Review finding: an earlier-starting snapshot that keeps committing
    partitions AFTER the scored snapshot began must not leak those later
    commits into the baseline. Here each old snapshot commits p1 AFTER
    'cur' started; with the leak those three points would form a bogus
    baseline and flag cur's p1 — with the per-metric cutoff, p1 has no
    valid history (cold start, silent) and only p0 is judged."""
    from xmlschemavalidator_spark.manifest import MetricsManifest, PartitionMetrics

    man = MetricsManifest(str(tmp_path / "m"))
    for i, t in enumerate((100.0, 150.0, 200.0)):
        man.commit(PartitionMetrics(f"old{i}", "p0", 1000, 10 + i, 10 + i, 1.0, t))
    # scored snapshot starts at t=400 with both partitions
    man.commit(PartitionMetrics("cur", "p0", 1000, 500, 500, 1.0, 400.0))
    man.commit(PartitionMetrics("cur", "p1", 1000, 490, 490, 1.0, 400.0))
    # stragglers: the old snapshots commit p1 at ~1% AFTER cur started —
    # future data; leaking it would z-flag cur's 49% p1 against it
    for i, t in enumerate((500.0, 510.0, 520.0)):
        man.commit(PartitionMetrics(f"old{i}", "p1", 1000, 10, 10, 1.0, t))

    flagged = man.anomalies("cur", z=3.0, min_history=3)
    assert {f["partition"] for f in flagged} == {"p0"}  # p1 = cold start
    f = [x for x in flagged if x["metric"] == "violation_rate"][0]
    assert f["mean"] < 0.02 and f["z"] > 3

"""Regression tests for the round-1 code-review findings."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from xmlschemavalidator_spark.rules.types import PREDEF_TYPES, Union


def test_tdigest_small_input_sorted(spark):
    # finding 1: <= delta values must still produce sorted centroids
    from xmlschemavalidator_spark.checks.tdigest import digest_of

    df = spark.createDataFrame([(100.0,), (1.0,), (50.0,)], "v double").coalesce(1)
    d = digest_of(df, "v", delta=200)
    assert list(d.means) == sorted(d.means)
    assert d.quantile(0.5) == pytest.approx(50.0, abs=1.0)


def test_xsd_extension_inherits_choice_particle(spark):
    # finding 2: attribute-only extension must keep the base's choice
    from xmlschemavalidator_spark.engine import validate
    from xmlschemavalidator_spark.xsd import parse_xsd

    xsd = """<schema>
      <complexType name="ChoiceBase">
        <choice>
          <element name="a" type="string"/>
          <element name="b" type="string"/>
        </choice>
      </complexType>
      <complexType name="Ext">
        <complexContent>
          <extension base="ChoiceBase">
            <attribute name="tag" type="string" use="required"/>
          </extension>
        </complexContent>
      </complexType>
      <element name="root" type="Ext"/>
    </schema>"""
    rs = parse_xsd(xsd).ruleset_for("root")
    assert any(r.rule_id == "root__choice" for r in rs.rules)
    df = spark.createDataFrame(
        [("d1", "x", None, "t"), ("d2", "x", "y", "t")],
        "doc_id string, a string, b string, tag string",
    )
    res = validate(df, rs, key="doc_id")
    got = {r["doc_id"]: r["_doc_ok"] for r in res.verdicts.collect()}
    assert got == {"d1": True, "d2": False}  # exactly-one semantics preserved


def test_simhash_blocking_sound_above_3(spark):
    # finding 3: pairs at Hamming distance 4 with one differing bit per
    # 16-bit quarter must still be found when hamming_max >= 4
    import xmlschemavalidator_spark.dedup as dd

    sig_a = 0
    sig_b = (1 << 0) | (1 << 16) | (1 << 32) | (1 << 48)  # d=4, one per quarter
    orig = dd.simhash_signatures_df

    def fixed_sigs(df, id_col, text_col="text"):
        return df.select(
            F.col(id_col).alias("doc"),
            F.when(F.col(text_col) == "da", F.lit(sig_a))
            .otherwise(F.lit(sig_b))
            .cast("long")
            .alias("sig"),
        )

    try:
        dd.simhash_signatures_df = fixed_sigs
        df = spark.createDataFrame([(1, "da"), (2, "db")], "doc_id bigint, text string")
        pairs = dd.simhash_near_duplicates(df, "doc_id", hamming_max=4).collect()
        assert [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs] == [(1, 2, 4)]
        none = dd.simhash_near_duplicates(df, "doc_id", hamming_max=3).collect()
        assert none == []  # d=4 excluded at hamming_max=3
    finally:
        dd.simhash_signatures_df = orig


def test_sink_ignores_stale_tmp_commit(spark, tmp_path):
    # finding 4: a leftover .tmp commit file must not crash committed_epochs
    from xmlschemavalidator_spark.compiler import FieldRule, RuleSet
    from xmlschemavalidator_spark.rules.attributes import RequiredAttr
    from xmlschemavalidator_spark.streaming.sink import StreamingViolationsSink

    sink = StreamingViolationsSink(
        RuleSet(rules=[FieldRule("r", RequiredAttr(), column="url")]), "url", str(tmp_path)
    )
    (tmp_path / "_commits" / "epoch=3.json.tmp.12345").write_text("{}")
    assert sink.committed_epochs() == set()  # tmp file ignored, no ValueError


def test_dispatch_handles_xml_prolog(spark):
    # finding 5: documents with a prolog/doctype must dispatch correctly
    from xmlschemavalidator_spark.xsd import parse_xsd

    xsd = """<schema><element name="abyte" type="byte"/></schema>"""
    schema = parse_xsd(xsd)
    df = spark.createDataFrame(
        [
            ("1", '<?xml version="1.0"?><abyte>5</abyte>'),
            ("2", '<!DOCTYPE abyte><abyte>400</abyte>'),
        ],
        "id string, xml string",
    )
    out = {r["id"]: (r["root_tag"], r["_doc_ok"])
           for r in schema.dispatch_validate_xml(df, "xml", key="id").collect()}
    assert out == {"1": ("abyte", True), "2": ("abyte", False)}


def test_json_ruleset_top_level_named_type(spark):
    # finding 6: {"type": "byte"} must compile via registry resolution
    from xmlschemavalidator_spark.engine import validate
    from xmlschemavalidator_spark.ruleset_io import ruleset_from_json

    rs = ruleset_from_json('{"rules": [{"id": "t", "column": "v", "type": "byte"}]}')
    df = spark.createDataFrame([("u1", "127"), ("u2", "128")], "url string, v string")
    got = {r["url"]: r["rule_t_ok"] for r in validate(df, rs, key="url").verdicts.collect()}
    assert got == {"u1": True, "u2": False}
    assert "t" in rs.compile_sql()  # SQL rendering works for named types too


def test_long_range_boundary_precision(spark):
    # finding 7: 2^63 must FAIL the long check (double view can't tell)
    vals = ["9223372036854775807", "9223372036854775808", "-9223372036854775808",
            "-9223372036854775809", "9223372036854775807.5"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    t = PREDEF_TYPES.resolve("long")
    got = [r[0] for r in df.select(t.to_column(F.col("v"), PREDEF_TYPES)).collect()]
    assert got == [True, False, True, False, False]
    # unsignedLong upper bound
    u = PREDEF_TYPES.resolve("unsignedLong")
    df2 = spark.createDataFrame(
        [("18446744073709551615",), ("18446744073709551616",)], "v string")
    got2 = [r[0] for r in df2.select(u.to_column(F.col("v"), PREDEF_TYPES)).collect()]
    assert got2 == [True, False]


def test_long_range_sql_parity(spark):
    import duckdb

    vals = ["9223372036854775807", "9223372036854775808", "0", None]
    t = PREDEF_TYPES.resolve("long")
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    spark_ok = [bool(r[0]) for r in df.select(
        F.coalesce(t.to_column(F.col("v"), PREDEF_TYPES), F.lit(False))).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(v VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    duck_ok = [bool(r[0]) for r in con.execute(
        f"SELECT coalesce({t.sql_expr('v', PREDEF_TYPES)}, FALSE) FROM t").fetchall()]
    assert spark_ok == duck_ok == [True, False, True, False]


def test_empty_union_rejected():
    # finding 10
    with pytest.raises(ValueError, match="at least one member"):
        Union(members=())
    from xmlschemavalidator_spark.xsd import parse_xsd

    with pytest.raises(ValueError, match="union with no members"):
        parse_xsd('<schema><simpleType name="u"><union/></simpleType></schema>')


def test_warc_errors_reported(spark, tmp_path):
    # finding 9
    from xmlschemavalidator_spark.sources.warc import read_warc_errors, write_fake_warc

    (tmp_path / "bad.warc.gz").write_bytes(b"\x1f\x8bnot gzip")
    (tmp_path / "junk.warc").write_bytes(b"this is not warc data")
    write_fake_warc(str(tmp_path / "ok.warc"), [{
        "url": "https://x/1", "warc_ts": "2024-01-01T00:00:00Z",
        "html": b"<html><head><title>p</title></head><body>hi</body></html>"}])
    errs = {r["warc_file"].split("/")[-1]: r["error"]
            for r in read_warc_errors(spark, str(tmp_path / "*")).collect()}
    assert "bad.warc.gz" in errs and errs["bad.warc.gz"].startswith("gzip")
    assert errs.get("junk.warc") == "no parseable response records"
    assert "ok.warc" not in errs


def test_session_shuffle_override_with_nonnumeric_cpus(monkeypatch):
    # finding 8: explicit shuffle_partitions must survive SPARK_GRAFT_CPUS=auto
    import os

    from xmlschemavalidator_spark import session as sess

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "auto")
    # reproduce the expression without building a session
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = 200 or (int(cpus) if str(cpus).isdigit() else 32)
    assert shuffle == 200


# --- round-2 self-review fixes ---------------------------------------------


def test_min_label_empty_pairs_no_warning(spark):
    """Empty candidate set: converge immediately, no split-component
    warning (sum over zero rows observes None, not 0)."""
    import warnings

    from xmlschemavalidator_spark.dedup import near_duplicate_clusters

    empty = spark.createDataFrame([], "id_a bigint, id_b bigint")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = near_duplicate_clusters(empty).collect()
    assert out == []
    assert not any("fixpoint" in str(x.message) for x in w)


def test_drop_duplicate_lines_doc_named_column(spark):
    """A table whose id column is literally 'doc' (this library's own
    output convention) must not trip an ambiguous-reference error."""
    from xmlschemavalidator_spark.dedup import drop_duplicate_lines

    df = spark.createDataFrame(
        [(1, "shared boilerplate line here\nunique a"),
         (2, "shared boilerplate line here\nunique b")],
        "doc bigint, text string",
    )
    out = {r["doc"]: r["text"] for r in drop_duplicate_lines(df, "doc").collect()}
    assert out == {1: "unique a", 2: "unique b"}


def test_approx_heavy_hitters_null_takeover(spark):
    """An 80%-NULL column must surface NULL as the dominant value."""
    from xmlschemavalidator_spark.checks.stats import approx_heavy_hitters

    df = spark.createDataFrame([(None,)] * 8 + [("x",)] * 2, "v string")
    got = {r["value"]: r["share"] for r in approx_heavy_hitters(df, "v", 0.3).collect()}
    assert got.get(None) == 0.8


def test_identity_tuple_separator_no_collision(spark):
    """Multi-field tuples ('a|b','c') vs ('a','b|c') are DISTINCT keys."""
    from xmlschemavalidator_spark.xsd import parse_xsd

    xsd = """<schema>
      <complexType name="c"><sequence>
        <element name="f1" type="string"/>
        <element name="f2" type="string"/>
      </sequence></complexType>
      <element name="r" type="c">
        <unique name="u2"><selector xpath="."/>
          <field xpath="f1"/><field xpath="f2"/></unique>
      </element>
    </schema>"""
    schema = parse_xsd(xsd)
    df = spark.createDataFrame(
        [("a|b", "c"), ("a", "b|c")], "f1 string, f2 string"
    )
    assert schema.identity_violations(df, "r").collect() == []


def test_seen_fingerprints_raises_on_corrupt_store(spark, tmp_path):
    """A corrupt store must raise, not silently disable dedup."""
    import pytest

    from xmlschemavalidator_spark.dedup import incremental_exact_dedup

    bad = tmp_path / "fps"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"this is not parquet at all")
    df = spark.createDataFrame([(1, "t")], "doc_id bigint, text string")
    with pytest.raises(Exception) as ei:
        incremental_exact_dedup(df, "doc_id", str(bad)).collect()
    assert "PATH_NOT_FOUND" not in str(ei.value)


def test_fixed_element_absent_in_choice_or_nillable_passes(spark):
    """fixed= constrains PRESENT values; absence is the particle's concern
    (a NULL may be a non-selected choice alternative or xsi:nil)."""
    from xmlschemavalidator_spark.engine import DOC_OK, validate
    from xmlschemavalidator_spark.xsd import parse_xsd

    xsd = """<schema>
      <complexType name="c">
        <choice>
          <element name="a" type="string" fixed="x"/>
          <element name="b" type="string"/>
        </choice>
      </complexType>
      <element name="r" type="c"/>
    </schema>"""
    rs = parse_xsd(xsd).ruleset_for("r")
    df = spark.createDataFrame(
        [("d1", None, "anything"),  # b selected: a's fixed must not fail
         ("d2", "x", None),         # a selected with the fixed value
         ("d3", "y", None)],        # a selected, wrong value
        "doc_id string, a string, b string",
    )
    got = {r["doc_id"]: r[DOC_OK] for r in validate(df, rs, key="doc_id").verdicts.collect()}
    assert got == {"d1": True, "d2": True, "d3": False}


def test_pipeline_same_batch_retry_idempotent(spark, tmp_path):
    """Re-running the pipeline with the SAME batch id must reproduce the
    kept corpus, not empty it against its own fingerprint commit."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "c")
    a1 = run_pipeline(spark, docs, out, batch_id="b1")
    a2 = run_pipeline(spark, docs, out, batch_id="b1")  # retry
    assert a1["kept"] > 0 and a2["kept"] == a1["kept"]
    # a genuinely NEW batch: content kept by b1 must not be kept again
    # (only KEPT docs are committed as seen — docs b1 dropped post-dedup
    # may legitimately resurface and win in b2)
    from pyspark.sql import functions as SF

    from xmlschemavalidator_spark.textops import doc_fingerprint

    kept_before = {
        r["f"] for r in spark.read.parquet(f"{out}/kept/batch_id=b1")
        .select(doc_fingerprint(SF.col("text")).alias("f")).collect()
    }
    run_pipeline(spark, docs, out, batch_id="b2")
    kept_b2 = {
        r["f"] for r in spark.read.parquet(f"{out}/kept/batch_id=b2")
        .select(doc_fingerprint(SF.col("text")).alias("f")).collect()
    }
    assert not (kept_before & kept_b2)
    # round-3 ADVICE high: batch 1's kept corpus SURVIVES batch 2 in the
    # same output dir (per-batch dirs, not overwrite), its audit survives
    # too, and the union read sees both batches via the partition column
    import json as _json
    import os as _os

    kept_after = {
        r["f"] for r in spark.read.parquet(f"{out}/kept/batch_id=b1")
        .select(doc_fingerprint(SF.col("text")).alias("f")).collect()
    }
    assert kept_after == kept_before
    assert _os.path.exists(f"{out}/audit/b1/stages.json")
    assert _os.path.exists(f"{out}/audit/b2/stages.json")
    assert a1 == _json.load(open(f"{out}/audit/b1/stages.json"))
    both = spark.read.parquet(f"{out}/kept")
    assert set(r["batch_id"] for r in both.select("batch_id").distinct().collect()) == {"b1", "b2"}


def test_pipeline_decoupled_store(spark, tmp_path):
    """--store decouples the fingerprint history from the output dir: two
    different output roots sharing one store still dedup across batches."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    store = str(tmp_path / "shared_store")
    out1, out2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    a1 = run_pipeline(spark, docs, out1, batch_id="s1", store=store)
    a2 = run_pipeline(spark, docs, out2, batch_id="s2", store=store)
    assert a1["kept"] > 0
    # everything s1 kept is already in the shared store: s2's exact-dedup
    # stage drops at least those a1["kept"] docs from its (identical,
    # deterministic) line_dedup input
    assert a2["exact_dedup"] <= a2["line_dedup"] - a1["kept"]
    assert a2["kept"] < a1["kept"]
    # neither output dir grew its own store — history lives in --store only
    assert not os.path.exists(f"{out1}/fingerprints")
    assert not os.path.exists(f"{out2}/fingerprints")
    assert os.path.exists(store)


def test_nillable_fixed_nil_fails(spark):
    """XSD 1.0: a nilled element must have no fixed value constraint —
    nillable+fixed with NULL is invalid (third-review finding)."""
    from xmlschemavalidator_spark.engine import DOC_OK, validate
    from xmlschemavalidator_spark.xsd import parse_xsd

    xsd = """<schema>
      <complexType name="c"><sequence>
        <element name="a" type="string" fixed="x" nillable="true"/>
        <element name="b" type="string"/>
      </sequence></complexType>
      <element name="r" type="c"/>
    </schema>"""
    rs = parse_xsd(xsd).ruleset_for("r")
    df = spark.createDataFrame(
        [("d1", "x", "ok"), ("d2", None, "ok")],
        "doc_id string, a string, b string",
    )
    got = {r["doc_id"]: r[DOC_OK] for r in validate(df, rs, key="doc_id").verdicts.collect()}
    assert got == {"d1": True, "d2": False}


def test_pipeline_requires_batch_id(spark, tmp_path):
    import os
    import sys

    import pytest

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    docs = spark.createDataFrame([(1, "t", "en")], "doc_id bigint, text string, lang string")
    with pytest.raises(ValueError, match="batch_id is required"):
        run_pipeline(spark, docs, str(tmp_path / "o"))


def test_legacy_fingerprint_store_upgrade(spark, tmp_path):
    """A store created before the batch_id column existed must still honor
    the batch exclusion after an upgraded commit (mergeSchema read)."""
    from pyspark.sql import functions as SF

    from xmlschemavalidator_spark.dedup import (
        commit_seen_fingerprints,
        incremental_exact_dedup,
    )

    store = str(tmp_path / "fps")
    # legacy layout: fingerprint only
    spark.createDataFrame([("legacyfp",)], "fingerprint string").write.parquet(store)
    docs = spark.createDataFrame([(1, "some doc text")], "doc_id bigint, text string")
    kept = incremental_exact_dedup(docs, "doc_id", store, batch_id="bN")
    assert kept.count() == 1
    commit_seen_fingerprints(kept, store, batch_id="bN")
    # retry of bN: must NOT dedup against its own commit (legacy rows mixed in)
    retry = incremental_exact_dedup(docs, "doc_id", store, batch_id="bN")
    assert retry.count() == 1
    # a different batch IS deduped
    other = incremental_exact_dedup(docs, "doc_id", store, batch_id="bM")
    assert other.count() == 0


def test_compact_fingerprint_store_preserves_retry_semantics(spark, tmp_path):
    """Compaction must not drop the evidence that ANOTHER batch saw a
    fingerprint: multi-batch fingerprints collapse to NULL (excluded by
    no retry); single-batch ones keep their id."""
    from xmlschemavalidator_spark.dedup import (
        _seen_fingerprints,
        compact_fingerprint_store,
    )

    store = str(tmp_path / "fps")
    spark.createDataFrame(
        [("shared", "b1"), ("shared", "b2"), ("only_b1", "b1"), ("legacy", None)],
        "fingerprint string, batch_id string",
    ).write.parquet(store)
    compact_fingerprint_store(spark, store)
    rows = {r["fingerprint"]: r["batch_id"]
            for r in spark.read.parquet(store).collect()}
    assert rows == {"shared": None, "only_b1": "b1", "legacy": None}
    # retry of b1 still sees 'shared' and 'legacy' as foreign
    seen_b1 = {r["fingerprint"] for r in
               _seen_fingerprints(spark, store, exclude_batch="b1").collect()}
    assert seen_b1 == {"shared", "legacy"}


def test_choice_nillable_fixed_absent_alternative_passes(spark):
    """choice + nillable + fixed: a NULL may be a NON-selected alternative
    — the nilled-fixed prohibition only applies outside choice."""
    from xmlschemavalidator_spark.engine import DOC_OK, validate
    from xmlschemavalidator_spark.xsd import parse_xsd

    xsd = """<schema>
      <complexType name="c"><choice>
        <element name="a" type="string" fixed="x" nillable="true"/>
        <element name="b" type="string"/>
      </choice></complexType>
      <element name="r" type="c"/>
    </schema>"""
    rs = parse_xsd(xsd).ruleset_for("r")
    df = spark.createDataFrame(
        [("d1", None, "picked-b"), ("d2", "x", None), ("d3", "y", None)],
        "doc_id string, a string, b string",
    )
    got = {r["doc_id"]: r[DOC_OK] for r in validate(df, rs, key="doc_id").verdicts.collect()}
    assert got == {"d1": True, "d2": True, "d3": False}


def test_spread_noop_on_checkpointed_frame_with_enough_partitions(spark):
    """r4 review finding: _spread's metadata path saw no input files on a
    localCheckpoint'ed frame and unconditionally round-robin-shuffled it —
    at the 20M rehearsal shape that re-shuffled the corpus at every dedup
    entry point. Checkpointed frames fall back to the (trivial) actual
    partition count."""
    from xmlschemavalidator_spark.dedup import _spread
    from xmlschemavalidator_spark.session import free_local_checkpoint

    target = spark.sparkContext.defaultParallelism
    df = spark.range(10_000).repartition(target + 4).localCheckpoint(eager=True)
    out = _spread(df)
    assert out is df  # no repartition inserted
    small = spark.range(100).coalesce(1).localCheckpoint(eager=True)
    assert _spread(small).rdd.getNumPartitions() == target
    free_local_checkpoint(df)
    free_local_checkpoint(small)


def test_dsir_threshold_exposes_freeable_checkpoint(spark):
    """r4 review finding: the threshold path's internal localCheckpoint was
    unreachable (freeing the returned Filter frame is a silent no-op). The
    checkpointed scored frame rides the result as _dsir_scored and frees
    through session.free_local_checkpoint."""
    from xmlschemavalidator_spark.quality_model import dsir_sample, train_dsir_model
    from xmlschemavalidator_spark.session import free_local_checkpoint

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    model = train_dsir_model(docs.where(F.col("lang") == "en"), docs, "doc_id", n_buckets=256)
    out = dsir_sample(docs, model, "doc_id", k=100, method="threshold")
    assert out.count() == 100
    ckpt = out._dsir_scored
    rdd_id = ckpt._jdf.queryExecution().analyzed().rdd().id()
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().contains(rdd_id)
    free_local_checkpoint(ckpt)
    assert not jsc.getPersistentRDDs().contains(rdd_id)

"""End-to-end composed corpus pipeline (jobs/corpus_pipeline_job.py):
every stage is a library operator already covered by its own tests and
oracles — here the composition contract is pinned: stage counts are
monotone non-increasing, audit surfaces exist, and the fingerprint store
only commits after the kept output is durable."""

from __future__ import annotations

import json
import os
import re
import sys

import pytest
from pyspark.sql import functions as F


def test_pipeline_end_to_end(spark, tmp_path):
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.where(F.col("doc_id") % 100 == 0).select("doc_id", "text")
    out = str(tmp_path / "corpus")
    audit = run_pipeline(
        spark,
        docs,
        out,
        benchmark=bench,
        mix={"en": 1.0, "de": 1.0, "sv": 1.0, "zh": 1.0, "es": 1.0},
        budget_per_lang=100_000,
        batch_id="t1",
    )
    order = list(audit)
    assert order[0] == "input" and order[-1] == "kept"
    counts = [audit[k] for k in order[:-1]]
    assert all(a >= b for a, b in zip(counts, counts[1:])), audit  # monotone
    assert audit["kept"] > 0
    # artifacts exist — per-batch dirs (round-3 ADVICE fix)
    kept = spark.read.parquet(f"{out}/kept/batch_id=t1")
    assert kept.count() == audit["kept"]
    assert set(docs.columns) == set(kept.columns)
    assert os.path.exists(f"{out}/audit/t1/stages.json")
    assert json.load(open(f"{out}/audit/t1/stages.json")) == audit
    viol = spark.read.parquet(f"{out}/audit/t1/violations")
    assert viol.columns == ["doc_id", "rule_id", "observed_value"]
    # store committed: re-running drops everything already kept
    from xmlschemavalidator_spark.dedup import incremental_exact_dedup

    again = incremental_exact_dedup(kept, "doc_id", f"{out}/fingerprints")
    assert again.count() == 0


def test_pipeline_trains_lang_classifier_when_input_has_no_lang(spark, tmp_path):
    """lang_from='auto' on a lang-less input: the in-run char-trigram NB
    (weak-trained from the stopword heuristic) produces the lang column
    every per-lang stage keys on — VERDICT r3 item 3's pipeline wiring."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    # gopher_pass is en-centric (stopword hits): the de docs carry a few
    # en stopwords so they survive the quality stage, while de stopwords
    # still dominate the weak teacher's argmax; the unique alpha-only
    # tail keeps line/exact/near dedup from collapsing the corpus
    en = "the light of the world and the thing that it was for knowing "
    de = "der könig und die straße the schön zügig of das übung and ein "
    rows = []
    for i in range(60):
        istr = "".join(chr(97 + int(c)) for c in str(i))  # 37 -> "dh"
        uniq = " ".join(f"q{istr}{chr(97 + j)}wort" for j in range(8))
        text = ((en if i % 2 == 0 else de) * 2 + uniq).strip()
        rows.append((i, text, f"src{i % 5}", len(text)))
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string, n_chars int"
    )
    out = str(tmp_path / "nolang")
    audit = run_pipeline(spark, docs, out, batch_id="L1", mix={"en": 1.0, "de": 1.0})
    assert audit["lang_tagged"] == 60
    kept = spark.read.parquet(f"{out}/kept/batch_id=L1")
    assert kept.count() > 0 and "lang" in kept.columns
    langs = {r["lang"] for r in kept.select("lang").distinct().collect()}
    assert langs == {"en", "de"}, langs
    # classifier call matches the planted language on every kept doc
    wrong = kept.where(
        ((F.col("doc_id") % 2 == 0) & (F.col("lang") != "en"))
        | ((F.col("doc_id") % 2 == 1) & (F.col("lang") != "de"))
    ).count()
    assert wrong == 0


def test_pipeline_main_content_stage(spark, tmp_path):
    """--main-content: text is rebuilt boilerplate-free from the html
    column before any filter, with n_chars refreshed so validation's
    nchars_consistent rule passes on the rewritten text."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    body = (
        "the light of the world and the thing that it was for knowing more "
    )
    rows = []
    for i in range(30):
        istr = "".join(chr(97 + int(c)) for c in str(i))
        uniq = " ".join(f"mark{istr}{chr(97 + j)}word" for j in range(8))
        b = body + uniq + " "
        html = (
            '<html><body><div><a href="/">Home</a> | <a href="/b">Blog</a> | '
            f'<a href="/c">Contact</a></div><p>{b.strip()}</p>'
            '<div><a href="/r">related article link farm here</a></div>'
            "</body></html>"
        )
        rows.append((i, html, "junk " * 10, f"src{i % 3}", 50))
    docs = spark.createDataFrame(
        rows, "doc_id bigint, html string, text string, source string, n_chars int"
    )
    out = str(tmp_path / "mc")
    audit = run_pipeline(
        spark, docs, out, batch_id="M1", extract_main_content=True
    )
    # extraction + n_chars refresh must carry every doc through validation
    # and gopher (the raw 'junk' text would fail nchars_consistent); the
    # near-dup stage MAY thin the deliberately-similar bodies after that
    assert audit["validated"] == 30 and audit["quality"] == 30, audit
    assert audit["kept"] > 0, audit
    kept = spark.read.parquet(f"{out}/kept/batch_id=M1")
    one = kept.orderBy("doc_id").first()
    assert one["text"].startswith("the light of the world")
    assert "Home" not in one["text"] and "related article" not in one["text"]
    assert one["n_chars"] == len(one["text"])
    with pytest.raises(ValueError, match="html"):
        run_pipeline(
            spark, docs.drop("html"), str(tmp_path / "mc2"),
            batch_id="M2", extract_main_content=True,
        )


def test_pipeline_emits_packed_sequences(spark, tmp_path):
    """--pack-seq-len: the pipeline's final training artifact — per-lang
    packed sequences covering every kept doc's tokens exactly once."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "c")
    audit = run_pipeline(spark, docs, out, batch_id="p1", pack_seq_len=128)
    assert audit["sequences"] > 0
    seqs = spark.read.parquet(f"{out}/sequences/batch_id=p1")
    assert set(seqs.columns) == {"lang", "seq_id", "seq_text", "n_tokens", "pad_tokens"}
    rows = seqs.collect()
    # every sequence is exactly 128 tokens except at most one per lang
    short = {}
    for r in rows:
        assert 0 < r["n_tokens"] <= 128 and r["pad_tokens"] == 128 - r["n_tokens"]
        if r["n_tokens"] < 128:
            short[r["lang"]] = short.get(r["lang"], 0) + 1
    assert all(v == 1 for v in short.values())
    # token conservation: the training artifact carries each kept-corpus
    # token EXACTLY once (overlap=0 — review finding: the default overlap
    # would duplicate ~12.5% of every doc into the sequences)
    from pyspark.sql import functions as F

    from xmlschemavalidator_spark.textops import token_count

    kept = spark.read.parquet(f"{out}/kept/batch_id=p1")
    n_doc_toks = kept.agg(F.sum(token_count(F.col("text")))).collect()[0][0]
    assert sum(r["n_tokens"] for r in rows) == n_doc_toks


def test_pipeline_quality_model_stage(spark, tmp_path):
    """--quality-model: the in-run-trained NB scorer is a monotone extra
    gate between the heuristic pass and dedup."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "c")
    audit = run_pipeline(spark, docs, out, batch_id="q1", use_quality_model=True)
    order = list(audit)
    assert order.index("quality_model") == order.index("quality") + 1
    assert 0 < audit["quality_model"] <= audit["quality"]
    assert audit["kept"] > 0


def test_pipeline_cross_batch_near_dedup(spark, tmp_path):
    """--near-store: batch 2's near-variants of batch-1 KEPT docs drop in
    the near_dedup stage even though their fingerprints differ (the exact
    store alone would admit them); genuinely fresh docs survive."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "c")
    near_store = str(tmp_path / "near_buckets")
    audit1 = run_pipeline(
        spark, docs, out, batch_id="n1", near_store=near_store
    )
    assert audit1["kept"] > 0
    kept1 = spark.read.parquet(f"{out}/kept/batch_id=n1")

    # batch 2: near-variants (one appended token — different md5, shared
    # band buckets) of every batch-1 kept doc, plus fresh hash-garbage
    near = (
        kept1.withColumn("doc_id", F.col("doc_id") * 10 + 1)
        .withColumn("text", F.concat(F.col("text"), F.lit(" appended")))
        .withColumn("n_chars", F.length("text"))  # keep metadata consistent
    )
    fresh = (
        kept1.limit(20)
        .withColumn("doc_id", F.col("doc_id") * 10 + 2)
        .withColumn(
            "text",
            F.concat_ws(
                " ",
                F.md5(F.col("text")),
                F.md5(F.concat(F.col("text"), F.lit("x"))),
                F.md5(F.concat(F.col("text"), F.lit("y"))),
            ),
        )
        .withColumn("n_chars", F.length("text"))
    )
    b2 = near.unionByName(fresh)
    audit2 = run_pipeline(
        spark, b2, out, batch_id="n2", near_store=near_store
    )
    kept2 = spark.read.parquet(f"{out}/kept/batch_id=n2")
    kept2_ids = {r["doc_id"] for r in kept2.select("doc_id").collect()}
    # no near-variant survived; batch-1's kept output is untouched
    assert not any(i % 10 == 1 for i in kept2_ids)
    assert spark.read.parquet(f"{out}/kept/batch_id=n1").count() == audit1["kept"]
    # the near_dedup stage (not validation/quality) did the dropping:
    # every variant that reached exact_dedup was gone by near_dedup
    n_variants_at_exact = audit2["exact_dedup"]
    assert audit2["near_dedup"] < n_variants_at_exact


def test_pipeline_keep_policy_longest(spark, tmp_path):
    """--keep-policy longest: the near-dup stage keeps the LONGEST member
    of each cluster instead of the smallest id."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import pytest
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # a long base doc that passes gopher, and a shorter near-variant with a
    # SMALLER id (first-seen policy would keep the short one)
    base = docs.orderBy(F.length("text").desc()).limit(1).collect()[0]
    long_text = base["text"] + " extra trailing tokens appended here"
    short_text = base["text"]
    two = spark.createDataFrame(
        [
            (1_000_001, short_text, "en", "src1", len(short_text)),
            (1_000_002, long_text, "en", "src1", len(long_text)),
        ],
        docs.schema,
    )
    out = str(tmp_path / "kp")
    audit = run_pipeline(
        spark, docs.unionByName(two), out, batch_id="k1", keep_policy="longest"
    )
    kept_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/kept/batch_id=k1")
        .where(F.col("doc_id") > 1_000_000)
        .collect()
    }
    # the pair must have near-dup'd: exactly one survivor, the LONGER one
    assert kept_ids == {1_000_002}, (audit, kept_ids)

    with pytest.raises(ValueError):
        run_pipeline(
            spark, docs, str(tmp_path / "kp2"), batch_id="k2",
            keep_policy="longest", near_store=str(tmp_path / "ns"),
        )


def test_pipeline_shuffle_shards(spark, tmp_path):
    """--shuffle-shards: the training-order artifact — every kept doc in
    exactly one shard, contiguous 1..n positions per shard, reproducible."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "sh")
    audit = run_pipeline(spark, docs, out, batch_id="s1", shuffle_shards=4)
    shards = spark.read.parquet(f"{out}/shards/batch_id=s1")
    kept = spark.read.parquet(f"{out}/kept/batch_id=s1")
    assert audit["shard_rows"] == audit["kept"] == shards.count()
    assert sorted(
        r["doc_id"] for r in shards.select("doc_id").collect()
    ) == sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    per = shards.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n"), F.min("pos").alias("mn"), F.max("pos").alias("mx")
    ).collect()
    assert {r["shard"] for r in per} <= {0, 1, 2, 3}
    for r in per:
        assert r["mn"] == 1 and r["mx"] == r["n"]


def test_pipeline_shuffle_shards_over_sequences(spark, tmp_path):
    """With packing on, the shuffle shards carry the packed sequences."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "sq")
    audit = run_pipeline(
        spark, docs, out, batch_id="q1", pack_seq_len=128, shuffle_shards=3
    )
    shards = spark.read.parquet(f"{out}/shards/batch_id=q1")
    assert audit["shard_rows"] == audit["sequences"] == shards.count()
    assert "seq_text" in shards.columns and "pos" in shards.columns


def test_pipeline_ccnet_terciles(spark, tmp_path):
    """--ccnet-keep head,middle: the in-run bigram-LM tercile stage drops
    roughly the worst-fitting third per language."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import pytest
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "cc")
    audit = run_pipeline(
        spark, docs, out, batch_id="c1", ccnet_keep="head,middle"
    )
    assert "ccnet_terciles" in audit
    before = audit["quality"]
    after = audit["ccnet_terciles"]
    # keeps about two thirds (ntile rounding per language group)
    assert 0.5 * before <= after <= 0.8 * before, audit
    # stage order: terciles cut happens before line_dedup
    keys = list(audit)
    assert keys.index("ccnet_terciles") < keys.index("line_dedup")

    with pytest.raises(ValueError):
        run_pipeline(spark, docs, str(tmp_path / "cc2"), batch_id="c2",
                     ccnet_keep="head,bogus")


def test_pipeline_empty_ccnet_keep_raises(spark, tmp_path):
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import pytest
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with pytest.raises(ValueError, match="no buckets"):
        run_pipeline(spark, docs, str(tmp_path / "e"), batch_id="e1", ccnet_keep=",")


def test_pipeline_releases_checkpoint_storage(spark, tmp_path):
    """The stage checkpoints' RDD blocks must be freed after the kept
    output commits (review finding: Dataset.unpersist() was a no-op on
    local checkpoints, leaking every stage's blocks per batch)."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def n_cached():
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return len([i for i in infos if i.numCachedPartitions() > 0])

    # DELTAS, not absolutes: the shared session may carry caches from
    # other tests (semdedup's persisted assignment, CC final labels)
    before = n_cached()
    run_pipeline(spark, docs, str(tmp_path / "rel1"), batch_id="r1")
    after_first = n_cached()
    # the ~8 stage checkpoints are freed; only the near-dup operator's
    # final label table (its return-value lineage, GC'd by ContextCleaner)
    # may remain
    assert after_first - before <= 2, (before, after_first)
    run_pipeline(spark, docs, str(tmp_path / "rel2"), batch_id="r2")
    # and repeated batches must not GROW resident storage
    assert n_cached() <= after_first + 1


def test_pipeline_validated_stage_keeps_only_valid_rows_of_a_shared_id(
    spark, tmp_path
):
    """Two input rows share a doc_id, one valid and one not: the
    validated stage keeps the valid row only. Re-admitting rows by joining
    the passing ids back onto the corpus let the invalid twin through."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    from xmlschemavalidator_spark.engine import DOC_OK, validate
    from xmlschemavalidator_spark.flagship import documents_ruleset

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").where(
        F.col("doc_id") % 10 == 0
    )
    verdicts = validate(docs, documents_ruleset(), key="doc_id").verdicts
    n_valid = verdicts.where(F.col(DOC_OK)).count()
    twin_id = verdicts.where(F.col(DOC_OK)).agg(F.min("doc_id")).first()[0]
    twin = docs.where(F.col("doc_id") == twin_id).withColumn("source", F.lit("bogus"))
    audit = run_pipeline(
        spark, docs.unionByName(twin), str(tmp_path / "dup"), batch_id="dup1"
    )
    assert audit["input"] == docs.count() + 1
    assert audit["validated"] == n_valid


def test_pipeline_validated_stage_plan_has_no_join(spark, tmp_path, monkeypatch):
    """The validated stage is the verdict projection filtered on _doc_ok,
    with no join back to the corpus (the plan is read just before the
    stage's checkpoint cuts its lineage)."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cls = type(docs)
    checkpoint = cls.localCheckpoint
    explain_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    plans = []

    def recording_checkpoint(self, *args, **kwargs):
        qe = self._jdf.queryExecution()
        plans.append(qe.explainString(explain_mode.fromString("formatted")))
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", recording_checkpoint)
    audit = run_pipeline(spark, docs, str(tmp_path / "plan"), batch_id="p1")
    order = list(audit)
    # the stages up to and including validated checkpoint once each, in order
    assert order[:2] == ["input", "validated"], order
    p = plans[order.index("validated")]
    assert "Join" not in p, p
    assert len(re.findall(r"\(\d+\) Scan ExistingRDD", p)) == 1, p


def test_pipeline_fix_encoding_stage(spark, tmp_path):
    """--fix-encoding: mojibake repaired before any filter judges the
    text; kept output carries the clean form."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bad = "café".encode("utf-8").decode("cp1252")
    dirty = docs.select(
        "doc_id",
        F.concat(F.coalesce("text", F.lit("")), F.lit(f" {bad}")).alias("text"),
        "lang", "source", "n_chars",
    )
    out = str(tmp_path / "fe")
    audit = run_pipeline(spark, dirty, out, batch_id="f1", fix_encoding=True)
    kept = spark.read.parquet(f"{out}/kept/batch_id=f1")
    # NON-vacuous: docs survive (the first version of this test passed on
    # an empty kept set — stale n_chars failed nchars_consistent)
    assert audit["kept"] > 0 and kept.count() == audit["kept"]
    assert kept.where(F.col("text").contains("café")).count() == kept.count()
    assert kept.where(F.col("text").contains(bad)).count() == 0


def test_pipeline_fix_encoding_preserves_kept_schema(spark, tmp_path):
    """A --fix-encoding batch and a plain batch under one kept/ root must
    stay readable together (the recomputed n_chars once narrowed bigint
    to int and the mixed parquet types aborted the read — review
    finding)."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "mix")
    run_pipeline(spark, docs, out, batch_id="plain")
    run_pipeline(
        spark,
        docs.withColumn("doc_id", F.col("doc_id") + 10_000),
        out,
        batch_id="fixed",
        fix_encoding=True,
    )
    both = spark.read.parquet(f"{out}/kept")
    assert both.count() > 0
    assert dict(both.dtypes)["n_chars"] == dict(docs.dtypes)["n_chars"]


def test_pipeline_url_stages(spark, tmp_path):
    """URL layer: badword filter, canonical-URL dedup, and per-domain cap
    run first (planted URLs make each stage's drop count predictable)."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # 10% casino URLs; the rest collide pairwise on canonical URL
    # (trailing slash) within two domains
    docs = docs.withColumn(
        "url",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.lit("http://casino"), F.col("doc_id").cast("string"), F.lit(".com/x")),
        ).otherwise(
            F.concat(
                F.lit("http://d"),
                (F.col("doc_id") % 2).cast("string"),
                F.lit(".com/p/"),
                (F.col("doc_id") % 7).cast("string"),
                F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
            )
        ),
    )
    out = str(tmp_path / "corpus_url")
    audit = run_pipeline(
        spark,
        docs,
        out,
        batch_id="u1",
        url_col="url",
        url_dedup_on=True,
        domain_cap_n=5,
        domain_cap_stage="url_layer",
        url_badwords=["casino"],
    )
    survivors = [r.doc_id for r in docs.where(F.col("doc_id") % 10 != 0).select("doc_id").collect()]
    assert audit["url_badwords"] == len(survivors)
    # canonical classes among survivors: (doc_id%2, doc_id%7)
    classes = {(d % 2, d % 7) for d in survivors}
    assert audit["url_dedup"] == len(classes)
    # two domains (d0/d1), capped at 5 each
    domains = {d % 2 for d in survivors}
    assert audit["domain_cap"] == sum(
        min(5, len({(d % 2, d % 7) for d in survivors if d % 2 == dom}))
        for dom in domains
    )
    assert list(audit)[:4] == ["input", "url_badwords", "url_dedup", "domain_cap"]
    assert audit["kept"] > 0


def test_pipeline_domain_cap_after_quality_default(spark, tmp_path):
    """Default cap placement (SCALE.md measurement): the domain_cap stage
    runs AFTER the quality filters — the audit order shows it between
    `quality` and `line_dedup`, and the cap math applies to the QUALITY
    SURVIVORS (slots are not burned on docs quality drops)."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = docs.withColumn(
        "url",
        F.concat(
            F.lit("http://d"),
            (F.col("doc_id") % 2).cast("string"),
            F.lit(".com/p/"),
            F.col("doc_id").cast("string"),
        ),
    )
    out = str(tmp_path / "corpus_cap_default")
    audit = run_pipeline(
        spark, docs, out, batch_id="c1", url_col="url", domain_cap_n=5
    )
    keys = list(audit)
    assert keys.index("quality") < keys.index("domain_cap") < keys.index(
        "line_dedup"
    )
    # cap counts among quality survivors: min(5, per-domain survivors)
    from xmlschemavalidator_spark.engine import validate
    from xmlschemavalidator_spark.flagship import documents_ruleset
    from xmlschemavalidator_spark.textops import gopher_pass

    ok = validate(docs, documents_ruleset(), key="doc_id").verdicts.where(
        F.col("_doc_ok")
    ).select("doc_id")
    surv = (
        docs.join(ok, "doc_id", "left_semi")
        .where(gopher_pass(F.col("text")))
        .select((F.col("doc_id") % 2).alias("dom"))
        .groupBy("dom")
        .count()
        .collect()
    )
    assert audit["domain_cap"] == sum(min(5, r["count"]) for r in surv)


def test_pipeline_url_stages_require_url_col(spark, tmp_path):
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with pytest.raises(ValueError, match="url_col"):
        run_pipeline(
            spark, docs, str(tmp_path / "x"), batch_id="u2", url_dedup_on=True
        )


def test_pipeline_unimax_budget(spark, tmp_path):
    """UniMax budget policy: kept stays one row per surviving doc; the
    (doc, epoch) training rows land in epochs/batch_id=<id>/ and match a
    direct unimax_apply over the same survivors."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    from xmlschemavalidator_spark.sampling import unimax_apply

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "corpus_um")
    audit = run_pipeline(
        spark, docs, out, batch_id="um1",
        unimax_budget=1_000_000, unimax_max_epochs=2,  # oversubscribed: all capped at 2 epochs
    )
    epochs = spark.read.parquet(f"{out}/epochs/batch_id=um1")
    assert set(epochs.columns) == {"doc_id", "lang", "epoch"}
    assert audit["unimax_epoch_rows"] == epochs.count()
    assert epochs.agg(F.max("epoch")).collect()[0][0] == 2  # repetition happened
    # oversubscribed budget: every surviving doc appears in BOTH epochs
    assert epochs.count() == 2 * epochs.select("doc_id").distinct().count()
    # kept = distinct docs appearing in the epoch rows
    kept = spark.read.parquet(f"{out}/kept/batch_id=um1")
    assert audit["kept"] == kept.count()
    assert kept.count() == epochs.select("doc_id").distinct().count()
    # both policies at once is a config error
    with pytest.raises(ValueError, match="alternative budget"):
        run_pipeline(spark, docs, str(tmp_path / "x"), batch_id="um2",
                     budget_per_lang=10, unimax_budget=10)


def test_pipeline_robots_stage(spark, tmp_path):
    """--robots: disallowed paths drop before any other URL stage; hosts
    without a robots row keep everything."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = docs.withColumn(
        "url",
        F.concat(
            F.lit("http://h"), (F.col("doc_id") % 2).cast("string"),
            F.lit(".com/"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("secret/x")).otherwise(
                F.lit("open/x")
            ),
        ),
    )
    robots = spark.createDataFrame(
        [("h0.com", "User-agent: *\nDisallow: /secret/")],
        "host string, robots_txt string",
    )
    out = str(tmp_path / "rb")
    audit = run_pipeline(
        spark, docs, out, batch_id="rb1", url_col="url", robots_df=robots
    )
    n = docs.count()
    blocked = docs.where(
        (F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 5 == 0)
    ).count()
    assert audit["robots"] == n - blocked
    assert list(audit)[:2] == ["input", "robots"]


def test_pipeline_retry_with_zero_kept_removes_stale_artifacts(spark, tmp_path):
    """A retry of the same batch_id that now keeps 0 docs must not leave
    run 1's sequences/shards on disk while stages.json says 0 (review
    finding: the mode('overwrite') that normally clears them never
    executes on the empty-batch skip path)."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "rz")
    audit1 = run_pipeline(
        spark, docs, out, batch_id="z1", pack_seq_len=128, shuffle_shards=2
    )
    assert audit1["sequences"] > 0 and audit1["shard_rows"] > 0
    assert os.path.exists(f"{out}/sequences/batch_id=z1")
    assert os.path.exists(f"{out}/shards/batch_id=z1")

    # retry of the SAME batch id, now mixing toward a language absent from
    # the corpus (default_fraction=0.0): every doc is filtered, kept == 0
    audit2 = run_pipeline(
        spark, docs, out, batch_id="z1", mix={"zz": 1.0},
        pack_seq_len=128, shuffle_shards=2,
    )
    assert audit2["kept"] == 0, audit2
    assert audit2["sequences"] == 0 and audit2["shard_rows"] == 0
    assert not os.path.exists(f"{out}/sequences/batch_id=z1")
    assert not os.path.exists(f"{out}/shards/batch_id=z1")
    assert json.load(open(f"{out}/audit/z1/stages.json")) == audit2


def test_pipeline_url_dedup_latest_policy(spark, tmp_path):
    """url_dedup_policy='latest': the newest warc_ts capture survives per
    canonical URL (timestamp column, the input_hint pages shape); policy
    validation errors early without a warc_ts column."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # 5 canonical classes; capture time ramps with doc_id so the winner
    # of each class is its largest doc_id
    docs = docs.withColumn(
        "url",
        F.concat(F.lit("http://s.com/p/"), (F.col("doc_id") % 5).cast("string")),
    ).withColumn(
        "warc_ts",
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id")),
    )
    out = str(tmp_path / "corpus_latest")
    audit = run_pipeline(
        spark, docs, out, batch_id="l1",
        url_col="url", url_dedup_on=True, url_dedup_policy="latest",
    )
    # pin the stage under test (downstream validation/quality may
    # legitimately drop the 5 planted survivors): 5 canonical classes
    # survive URL dedup, and the winner-identity semantics are pinned by
    # test_weburl.py::test_snapshot_dedup_keeps_newest_then_smallest_id
    assert audit["url_dedup"] == 5

    with pytest.raises(ValueError, match="warc_ts"):
        run_pipeline(
            spark, docs.drop("warc_ts"), str(tmp_path / "x"), batch_id="l2",
            url_col="url", url_dedup_on=True, url_dedup_policy="latest",
        )
    with pytest.raises(ValueError, match="url_dedup_policy"):
        run_pipeline(
            spark, docs, str(tmp_path / "y"), batch_id="l3",
            url_col="url", url_dedup_on=True, url_dedup_policy="oldest",
        )


def test_pipeline_dedup_normalize_collapses_variants_and_guards_store(
    spark, tmp_path
):
    """--dedup-normalize: case/punct spelling variants of a doc collapse
    in the exact-dedup stage (raw fingerprints would differ); the
    fingerprint store remembers its key space and refuses the opposite
    flag on a later batch."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    base = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .where(F.col("doc_id") < 20)  # distinct texts (mod-26 trap)
    )
    # accent variant: same length/tokens (passes validation+gopher like
    # its base, and line dedup keys on the accented form), but the
    # aggressive normalizer folds á->a so ONLY normalized fingerprints
    # collapse the pair
    variants = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.translate("text", "a", "á").alias("text"),
        "lang", "source", "n_chars",
    )
    docs = base.unionByName(variants)
    out = str(tmp_path / "corpus_norm")
    audit = run_pipeline(
        spark, docs, out, batch_id="n1", dedup_normalize=True
    )
    # upstream stages treat base and variant identically, so exact dedup
    # halves the survivors — every variant collapses onto its base
    assert audit["exact_dedup"] == audit["line_dedup"] // 2 > 0
    kept = spark.read.parquet(f"{out}/kept/batch_id=n1")
    assert kept.where(F.col("doc_id") >= 100000).count() == 0  # min id wins

    with pytest.raises(ValueError, match="fingerprint store"):
        run_pipeline(
            spark, docs, out, batch_id="n2", dedup_normalize=False
        )


def test_pipeline_temperature_mix(spark, tmp_path):
    """--temperature-mix: kept stays one row per surviving doc; per-doc
    n_copies land in mix_copies/batch_id=<id>/ and match a direct
    temperature_mix over the same pre-budget frame; the three budget
    policies are mutually exclusive."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "corpus_tm")
    audit = run_pipeline(
        spark, docs, out, batch_id="tm1",
        temperature_budget=60, temperature_alpha=0.3,
    )
    copies = spark.read.parquet(f"{out}/mix_copies/batch_id=tm1")
    assert set(copies.columns) == {"doc_id", "lang", "n_copies"}
    kept = spark.read.parquet(f"{out}/kept/batch_id=tm1")
    assert audit["kept"] == kept.count() == copies.count()
    total = copies.agg(F.sum("n_copies")).collect()[0][0]
    assert audit["mix_total_copies"] == total
    assert 30 <= total <= 90  # E[total] = 60, binomial noise
    assert copies.agg(F.min("n_copies")).collect()[0][0] >= 1
    with pytest.raises(ValueError, match="alternative budget"):
        run_pipeline(spark, docs, str(tmp_path / "x"), batch_id="tm2",
                     temperature_budget=10, unimax_budget=10)


def test_pipeline_index_dir_builds_then_appends(spark, tmp_path):
    """--index-dir: batch 1 builds the inverted index, batch 2 appends its
    own _batch= dirs, and the served BM25 equals a from-scratch scan over
    the union of both kept batches. A same-id retry overwrites exactly its
    own dirs (no double counting)."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from corpus_pipeline_job import run_pipeline

    from xmlschemavalidator_spark.textindex import bm25_index_topk
    from xmlschemavalidator_spark.textops import bm25_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    out = str(tmp_path / "corpus_ix")
    idx = str(tmp_path / "textidx")
    a1 = run_pipeline(spark, b1, out, batch_id="ix1", index_dir=idx)
    a2 = run_pipeline(spark, b2, out, batch_id="ix2", index_dir=idx)
    assert a1["index_docs"] == a1["kept"] > 0
    assert a2["index_docs"] == a2["kept"] > 0
    kept_all = spark.read.parquet(f"{out}/kept")
    want = [
        (r["doc"], r["score_micro"])
        for r in bm25_topk(kept_all, "doc_id", ["table", "hash"], k=10).collect()
    ]
    got = [
        (r["doc"], r["score_micro"])
        for r in bm25_index_topk(spark, idx, ["table", "hash"], k=10).collect()
    ]
    assert got == want
    # deliberate same-batch retry: the index must NOT double-count ix2
    a2r = run_pipeline(spark, b2, out, batch_id="ix2", index_dir=idx)
    assert a2r["index_docs"] == a2["index_docs"]
    got_retry = [
        (r["doc"], r["score_micro"])
        for r in bm25_index_topk(spark, idx, ["table", "hash"], k=10).collect()
    ]
    assert got_retry == want

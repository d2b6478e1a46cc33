"""Physical-plan regression tests: the scale claims in BENCH/BASELINE.md
("zero shuffles", "one scan", "pushdown reaches parquet") asserted on the
actual optimized plans, so a refactor cannot silently regress them.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xmlschemavalidator_spark.checks.referential import referential_violations
from xmlschemavalidator_spark.checks.stats import column_stats
from xmlschemavalidator_spark.engine import validate
from xmlschemavalidator_spark.flagship import documents_ruleset

SF_DIR = "/root/testdata/sf0.001"


def fmt(df) -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return qe.explainString(jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def n_scans(plan: str) -> int:
    """Count physical scans via the numbered detail entries (the tree
    summary repeats each operator name, so a raw substring count doubles)."""
    import re

    return len(re.findall(r"\(\d+\) Scan parquet", plan))


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _assert_reads_checkpoint(res) -> None:
    """``violations`` and ``partition_summary`` read the checkpoint of
    ``res.compact``: neither plan scans parquet."""
    assert n_scans(fmt(res.violations)) == 0
    assert n_scans(fmt(res.partition_summary)) == 0


def test_violations_plan_no_shuffle(spark):
    """N rules compile into ONE projection + explode over one scan:
    no Exchange, no Union, exactly one parquet scan. That scan is the
    compact frame's, which the violations are read from."""
    res = validate(_docs(spark), documents_ruleset(), key="doc_id")
    p = fmt(res.compact)
    assert n_scans(p) == 1
    assert "Exchange" not in p
    assert "Union" not in p
    _assert_reads_checkpoint(res)


def _assert_lazy_violations_plan(p: str) -> None:
    """One scan, one plain explode of per-rule ``CASE WHEN failed THEN
    struct END`` elements: no higher-order ``filter`` and no lambda (those
    build every observed value on every row and run interpreted), no
    shuffle, no union."""
    import re

    assert n_scans(p) == 1
    assert "ArrayFilter" not in p
    assert not re.search(r"(?<![A-Za-z_])filter\(", p)
    assert "lambda" not in p.lower()
    assert "Exchange" not in p
    assert "Union" not in p
    assert "explode(array(CASE WHEN" in p


def test_violations_plan_lazy_batch_and_stream(spark, tmp_path):
    """Batch ``validate().violations`` and ``stream_violations`` share one
    plan shape; the batch pin reads the compact frame that the violations
    come from, the streaming pin the executed micro-batch plan."""
    from xmlschemavalidator_spark.streaming.validate_stream import stream_violations

    res = validate(_docs(spark), documents_ruleset(), key="doc_id")
    _assert_lazy_violations_plan(fmt(res.compact))
    _assert_reads_checkpoint(res)

    src = str(tmp_path / "src")
    _docs(spark).write.parquet(src)
    sdf = spark.readStream.schema(_docs(spark).schema).parquet(src)
    q = (
        stream_violations(sdf, documents_ruleset(), key="doc_id")
        .writeStream.format("memory").queryName("t_plan_viols")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    _assert_lazy_violations_plan(q._jsq.streamingQuery().lastExecution().explainString(mode))
    assert spark.table("t_plan_viols").count() == res.violations.count()


def test_verdicts_plan_single_scan_no_shuffle(spark):
    res = validate(_docs(spark), documents_ruleset(), key="doc_id")
    p = fmt(res.verdicts)
    assert n_scans(p) == 1
    assert "Exchange" not in p


def test_referential_single_fact_scan(spark):
    """The fact side is scanned ONCE (left join + null-hit filter), never
    anti-join + union of two scans."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    out = referential_violations(orders, "o_custkey", customer, "c_custkey")
    p = fmt(out)
    assert n_scans(p) == 2  # one fact + one dim, no more
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p


def test_column_stats_single_scan(spark):
    p = fmt(column_stats(_docs(spark)))
    assert n_scans(p) == 1


def test_q6_pushdown_and_pruning(spark):
    """All Q6 predicates reach PushedFilters; the scan reads only the four
    referenced columns."""
    from xmlschemavalidator_spark.driver_queries import agg_q6_revenue

    p = fmt(agg_q6_revenue(spark, SF_DIR))
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed and "l_shipdate" in pushed[0] and "l_discount" in pushed[0]
    schema_lines = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert schema_lines
    read = schema_lines[0]
    assert "l_extendedprice" in read and "l_orderkey" not in read


def test_q4_semi_join_shape(spark):
    from xmlschemavalidator_spark.driver_queries import join_q4_order_priority

    p = fmt(join_q4_order_priority(spark, SF_DIR))
    assert "LeftSemi" in p
    # the build side carries only the two needed lineitem columns
    li_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln and "l_orderkey" in ln]
    assert li_schema and "l_extendedprice" not in li_schema[0]


def test_topk_never_global_sort(spark):
    from xmlschemavalidator_spark.dedup import brute_force_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = brute_force_topk(emb, "embedding", [0.1] * 64, k=5)
    p = fmt(out)
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p.replace("TakeOrderedAndProject", "")


def test_rollup_is_expand_one_scan(spark):
    from xmlschemavalidator_spark.driver_queries import rollup_source_lang

    p = fmt(rollup_source_lang(spark, SF_DIR))
    assert "Expand" in p
    assert n_scans(p) == 1
    assert "Union" not in p


def test_cube_and_grouping_sets_are_expand_one_scan(spark):
    from xmlschemavalidator_spark.driver_queries import (
        cube_source_lang,
        grouping_sets_source_lang,
        unpivot_source_metrics,
    )

    for fn in (cube_source_lang, grouping_sets_source_lang):
        p = fmt(fn(spark, SF_DIR))
        assert "Expand" in p
        assert n_scans(p) == 1
        assert "Union" not in p
    # unpivot: Expand over the AGGREGATED frame, still one corpus scan
    p = fmt(unpivot_source_metrics(spark, SF_DIR))
    assert "Expand" in p and n_scans(p) == 1 and "Union" not in p


def test_minhash_exactly_one_shuffle(spark):
    """Signature computation: explode + ONE groupBy (map-side combined) —
    one Exchange in the plan, not one per permutation."""
    from xmlschemavalidator_spark.dedup import minhash_signatures_df

    import re

    out = minhash_signatures_df(_docs(spark), "doc_id")
    p = fmt(out)
    # one Exchange for the groupBy; _spread adds a round-robin one when the
    # test file is single-partition
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", p))
    assert 1 <= n_exchanges <= 2
    assert n_scans(p) == 1


def test_cohort_retention_single_scan(spark):
    """Cohort = min week + collect_set of weeks per user in one pass; the
    naive first-seen-join-activity form scans events twice."""
    from xmlschemavalidator_spark.driver_queries import cohort_retention

    p = fmt(cohort_retention(spark, SF_DIR))
    assert n_scans(p) == 1


def test_heavy_hitters_single_scan(spark):
    """Global share via a window over the GROUPED rows — not a broadcast of
    a second base-table aggregate."""
    from xmlschemavalidator_spark.driver_queries import heavy_hitters_source

    p = fmt(heavy_hitters_source(spark, SF_DIR))
    assert n_scans(p) == 1


def test_simhash_signatures_plan_partial_agg_one_shuffle(spark):
    """The JVM SimHash scale path: the 64 bit-vote sums are map-side
    combined (partial aggregate below the Exchange), so the shuffle
    carries (doc, 64 longs) per doc — never the exploded token stream —
    and no Python worker appears anywhere in the plan."""
    from xmlschemavalidator_spark.dedup import simhash_signatures_df

    out = simhash_signatures_df(_docs(spark), "doc_id")
    p = fmt(out)
    assert "partial_sum" in p  # map-side combine before the shuffle
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_contamination_broadcasts_benchmark(spark):
    """The benchmark n-gram set must reach the join as a broadcast — the
    corpus side is never shuffled."""
    from xmlschemavalidator_spark.dedup import contamination_matches

    docs = _docs(spark)
    bench = docs.limit(5)
    p = fmt(contamination_matches(docs, "doc_id", bench, ngram=5))
    assert "BroadcastExchange" in p
    # the corpus side must meet the benchmark via BroadcastHashJoin —
    # never a sort-merge join that shuffles the exploded corpus grams
    # (the remaining Exchanges are _spread round-robins, the tiny bench
    # distinct, and the final per-doc aggregate)
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_deterministic_sample_is_narrow(spark):
    """Content-addressed sampling is a pure filter: one scan, no Exchange,
    no RNG — the plan a resumable sampler must have."""
    from xmlschemavalidator_spark.sampling import deterministic_sample

    p = fmt(deterministic_sample(_docs(spark), "doc_id", 0.25))
    assert n_scans(p) == 1
    assert "Exchange" not in p
    assert "rand" not in p.lower().replace("operand", "")


def test_html_extract_single_projection_no_shuffle(spark):
    """html_to_text is one codegen'd projection: one scan, zero Exchange,
    no Python eval node."""
    from xmlschemavalidator_spark.textops import html_to_text

    p = fmt(_docs(spark).select(html_to_text(F.col("text")).alias("t")))
    assert n_scans(p) == 1
    assert "Exchange" not in p
    assert "Python" not in p


def test_deterministic_shuffle_single_exchange(spark):
    """The training-order shuffle is ONE hash Exchange on shard (the
    window) — shard assignment itself is narrow, no extra shuffle, no
    rand()."""
    import re

    from xmlschemavalidator_spark.sampling import deterministic_shuffle

    p = fmt(deterministic_shuffle(_docs(spark).select("doc_id"), "doc_id", n_shards=8))
    assert n_scans(p) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "rand" not in p.lower().replace("operand", "")


def test_dsir_score_broadcasts_weights(spark):
    """DSIR scoring joins the (≤ n_buckets)-row weight table by broadcast;
    the only hash Exchange is the groupBy(doc) partial-agg sum."""
    import re

    from xmlschemavalidator_spark.quality_model import dsir_score, train_dsir_model

    docs = _docs(spark)
    model = train_dsir_model(docs.where(F.col("lang") == "en"), docs, "doc_id", n_buckets=256)
    p = fmt(dsir_score(docs, model, "doc_id"))
    assert "BroadcastExchange" in p
    hash_exchanges = [
        m for m in re.findall(r"\(\d+\) Exchange hashpartitioning[^\n]*", p)
    ]
    assert len(hash_exchanges) <= 2  # groupBy(doc) + final left-join back
    assert "partial_sum" in p or "partial" in p.lower()  # map-side combine


def test_bpe_encode_broadcasts_segmentation(spark):
    """BPE encoding joins the bounded segmentation table by broadcast and
    shuffles once for the per-doc stitch; Python appears only in the OOV
    branch (ArrowEvalPython), never on the hit path above the union."""
    from xmlschemavalidator_spark.bpe import bpe_encode, train_bpe

    docs = _docs(spark)
    model = train_bpe(docs, n_merges=20, max_words=500)
    p = fmt(bpe_encode(docs, model, "doc_id"))
    assert "BroadcastExchange" in p
    # the hit branch (left of the union) must not feed through Python:
    # exactly ONE ArrowEvalPython node in the whole plan (the OOV branch)
    import re

    assert len(re.findall(r"\(\d+\) ArrowEvalPython", p)) == 1


def test_lang_model_predict_zero_exchange(spark):
    """Lang NB scoring (VERDICT r4 item 3): the weight table is C literal
    bucket-indexed arrays and each class score one integer aggregate HOF
    over the bound bucket array — the whole scorer is a narrow projection
    chain: ZERO Exchanges, no join, and the normalize-regex + gram hash
    evaluated exactly ONCE (the bucket array is let-bound behind a
    projection boundary, not re-derived per class)."""
    from xmlschemavalidator_spark.lang_model import (
        predict_lang,
        train_lang_model,
        with_lang,
    )

    docs = _docs(spark)
    model = train_lang_model(docs, "doc_id", label_col="lang", n_buckets=256)
    p = fmt(predict_lang(docs, model, "doc_id"))
    assert "Exchange" not in p, p
    assert "Join" not in p, p
    assert p.count("regexp_replace") == 1, p.count("regexp_replace")
    # with_lang is the same narrow chain over the full row (no rejoin)
    p2 = fmt(with_lang(docs, model, "doc_id"))
    assert "Exchange" not in p2 and "Join" not in p2
    assert p2.count("regexp_replace") == 1


def test_url_canonicalize_narrow_no_shuffle(spark):
    """Canonicalization + domain extraction is one codegen'd projection
    over one scan — no Exchange, no Python worker."""
    from xmlschemavalidator_spark.weburl import (
        canonical_host,
        canonical_url,
        registered_domain,
    )

    out = _docs(spark).select(
        "doc_id",
        registered_domain(
            canonical_host(canonical_url(F.concat(F.lit("http://h/"), F.col("text"))))
        ).alias("domain"),
    )
    p = fmt(out)
    assert "Exchange" not in p
    assert n_scans(p) == 1
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_url_dedup_winner_agg_is_partial(spark):
    """url_dedup's winner selection must be a partial-aggregatable min
    (map-side combine absorbs a degenerate hot canonical URL) — not a
    window sort over the URL key."""
    from xmlschemavalidator_spark.weburl import url_dedup

    docs = _docs(spark).withColumn("url", F.concat(F.lit("http://h/"), F.col("text")))
    p = fmt(url_dedup(docs))
    assert "partial_min" in p  # map-side combine before the shuffle
    assert "Window" not in p


def test_domain_cap_salted_window_bounds_sort(spark):
    """Phase 1 of the salted top-k windows over (domain, _salt) so no
    single task ever sorts a whole mega-domain; phase 2's window sees
    only the capped survivors."""
    from xmlschemavalidator_spark.weburl import domain_cap

    docs = _docs(spark).withColumn("domain", F.col("lang"))
    p = fmt(domain_cap(docs, "domain", cap=5))
    assert p.count("Window") >= 2  # both phases present
    assert "_salt" in p  # phase-1 partitioning includes the salt


def test_snapshot_dedup_winner_agg_is_partial(spark):
    """snapshot_dedup shares url_dedup's shape: partial-aggregatable
    min(struct) winner (a URL re-captured millions of times combines
    map-side), never a window over the URL key."""
    from xmlschemavalidator_spark.weburl import snapshot_dedup

    docs = _docs(spark).withColumn(
        "url", F.concat(F.lit("http://h/"), F.col("text"))
    ).withColumn("warc_ts", F.col("doc_id").cast("long"))
    p = fmt(snapshot_dedup(docs))
    assert "partial_min" in p
    assert "Window" not in p


def test_anchor_text_topk_counts_partial_and_salted(spark):
    """anchor_text_topk: the (target, anchor) count partial-aggregates
    (a billion-link homepage combines map-side) BEFORE the salted
    two-phase top-k windows."""
    from xmlschemavalidator_spark.weburl import anchor_text_topk

    docs = _docs(spark).withColumn(
        "html",
        F.concat(F.lit('<a href="http://t.com/">'), F.col("lang"), F.lit("</a>")),
    )
    p = fmt(anchor_text_topk(docs, cap=3))
    assert "partial_count" in p  # map-side combine on (target, anchor)
    assert p.count("Window") >= 2 and "_salt" in p


def test_outlink_signals_single_scan_single_regex_extract(spark):
    """outlink_signals: one parquet scan, zero shuffles, and the
    full-HTML regexp_extract_all appears ONCE in the plan (the href
    array is let-bound; HOF subtrees are never CSE'd — review finding:
    the unbound form scanned every page twice)."""
    from xmlschemavalidator_spark.weburl import outlink_signals

    docs = _docs(spark).withColumn(
        "html", F.concat(F.lit('<a href="http://t.com/a">'), F.col("lang"))
    ).withColumn("url", F.lit("http://own.net/p"))
    p = fmt(outlink_signals(docs))
    assert n_scans(p) == 1
    assert "Exchange" not in p
    assert p.count("regexp_extract_all") == 1


def test_assign_split_is_narrow(spark):
    """assign_split: a pure projection — no shuffle, no Python."""
    from xmlschemavalidator_spark.sampling import assign_split

    p = fmt(assign_split(_docs(spark), "doc_id", {"a": 0.9, "b": 0.1}))
    assert "Exchange" not in p and "Python" not in p


def test_bm25_plan_zero_shuffle(spark):
    """BM25 for a fixed query never builds the (doc, term) exploded
    table: the scoring job is scan → narrow projection →
    TakeOrderedAndProject. No Exchange, no Join, one scan."""
    from xmlschemavalidator_spark.textops import bm25_topk

    top = bm25_topk(_docs(spark), "doc_id", ["spark", "hash"], k=5)
    plan = fmt(top)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert n_scans(plan) == 1


def test_pmi_plan_narrow_pairs_broadcast_unigrams(spark):
    """PMI pair generation is a HOF over the token array — never a
    per-doc positional self-join (O(L^2) rows at web scale). The only
    joins are the two broadcast unigram lookups."""
    from xmlschemavalidator_spark.textops import token_pmi_topk

    top = token_pmi_topk(_docs(spark), "doc_id", k=5, min_pair_count=2)
    plan = fmt(top)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    import re

    # numbered detail entries — the tree summary repeats operator names
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2


def test_funnel_plan_one_user_shuffle(spark):
    """The 3 chained conditional window mins share ONE hash partitioning
    on user_id: exactly one Exchange feeds the window stack (the only
    other Exchange is the final tiny steps_completed agg), and no Join
    appears (the oracle's 3 joins are SQL spelling, not dataflow)."""
    from xmlschemavalidator_spark.driver_queries import all_queries

    q = all_queries()["funnel_steps"]
    plan = fmt(q(spark, SF_DIR))
    assert "Join" not in plan
    import re

    # window stack + tiny steps_completed agg + final orderBy range —
    # the per-user groupBy reuses the window's partitioning (no 4th)
    exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert exchanges == 3, plan
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_pearson_single_scan_single_agg(spark):
    """All five moment sums in ONE partial+final aggregate over one scan
    — no per-moment re-scan, no shuffle wider than one row."""
    import re

    from xmlschemavalidator_spark.checks.stats import pearson_correlation

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plan = fmt(pearson_correlation(li, "l_quantity", "l_extendedprice"))
    assert n_scans(plan) == 1
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2  # partial+final
    assert "PushedFilters: [IsNotNull(l_quantity)" in plan  # filter reaches the scan


def test_chi_squared_runs_on_aggregated_frames(spark):
    """The chi2 fold joins two ALREADY-AGGREGATED histograms: two scans
    feed two partial+final aggregates; the join + window run on
    #categories rows (no third scan of the base table)."""
    from xmlschemavalidator_spark.checks.drift import (
        categorical_histogram,
        chi_squared_drift,
    )

    docs = _docs(spark)
    cur = categorical_histogram(docs.where(F.col("doc_id") % 2 == 1), "lang")
    base = categorical_histogram(docs.where(F.col("doc_id") % 2 == 0), "lang")
    plan = fmt(chi_squared_drift(cur, base))
    assert n_scans(plan) == 2


def test_fd_summary_two_level_partial_agg(spark):
    """The fan-out summary aggregates (lhs, rhs) BEFORE (lhs) — both
    levels partial-aggregatable (two partial+final pairs), never a
    countDistinct Expand over the raw table."""
    import re

    from xmlschemavalidator_spark.checks.fd import fd_summary

    plan = fmt(fd_summary(_docs(spark), ["source"], "lang"))
    assert "Expand" not in plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 4


def test_ecdf_single_exchange(spark):
    """row_number and the group count share the group partitioning."""
    import re

    from xmlschemavalidator_spark.quality_model import ecdf_normalize

    docs = _docs(spark).select("doc_id", "lang", "n_chars")
    plan = fmt(ecdf_normalize(docs, "n_chars", "doc_id", group_cols=("lang",)))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_ols_trend_single_scan_partial_agg(spark):
    """OLS moments are ONE partial+final aggregate: exactly one Exchange
    (the group key), one scan, and a partial_ stage below it."""
    import re

    from xmlschemavalidator_spark.checks.stats import ols_trend

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    p = fmt(ols_trend(ev, "user_id", "value", group_cols=("event_type",)))
    assert n_scans(p) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "partial_" in p


def test_winnowing_fingerprints_narrow_until_explode(spark):
    """Winnowing is a per-doc projection: one scan, NO Exchange at all —
    the hash array, window aggregates and explode never shuffle."""
    import re

    from xmlschemavalidator_spark.dedup import winnowing_fingerprints

    p = fmt(winnowing_fingerprints(_docs(spark), "doc_id", k=5, window=4))
    assert n_scans(p) == 1
    # _spread's round-robin repartition is the only allowed Exchange
    exchanges = re.findall(r"\(\d+\) Exchange ([a-zA-Z]+)", p)
    assert all(e == "RoundRobinPartitioning" for e in exchanges), exchanges


def test_mutual_information_one_scan(spark):
    """MI = one corpus scan; both marginal window sums share the
    category-table output of the single joint aggregate."""
    from xmlschemavalidator_spark.checks.stats import mutual_information

    p = fmt(mutual_information(_docs(spark), "lang", "source"))
    assert n_scans(p) == 1


def test_stratified_fixed_k_salted_window_bounds_sort(spark):
    """Phase-1 window partitions on (stratum, salt): no single task ever
    sorts a whole mega-stratum."""
    from xmlschemavalidator_spark.sampling import stratified_fixed_k

    p = fmt(stratified_fixed_k(_docs(spark), "doc_id", "lang", k=5))
    assert "_fk_salt" in p  # the salted phase survived optimization
    assert n_scans(p) == 1


def test_trigram_index_probe_prunes_partitions(spark, tmp_path):
    """The persisted trigram probe must prune _bucket partition dirs at
    file listing (PartitionFilters), not post-scan."""
    from xmlschemavalidator_spark.textindex import (
        build_trigram_index,
        indexed_substring_search,
    )

    p = str(tmp_path / "tgplan")
    df = spark.createDataFrame(
        [(i, f"document number {i} with text") for i in range(50)],
        "doc_id long, text string",
    )
    build_trigram_index(df, "doc_id", p, n_buckets=16)
    plan = fmt(indexed_substring_search(df, "doc_id", "text", "number", p))
    assert "PartitionFilters" in plan
    i = plan.index("PartitionFilters")
    assert "_bucket" in plan[i : i + 200]


def test_privacy_audits_no_expand_single_scan(spark):
    """l-diversity must plan as two stacked hash aggregates — never a
    countDistinct Expand over the corpus."""
    from xmlschemavalidator_spark.checks.privacy import (
        k_anonymity_violations,
        l_diversity_violations,
    )

    d = _docs(spark)
    pk = fmt(k_anonymity_violations(d, ["lang", "source"], k=5))
    assert n_scans(pk) == 1 and "Expand" not in pk
    pl = fmt(l_diversity_violations(d, ["source"], "lang", l=5))
    assert n_scans(pl) == 1 and "Expand" not in pl


def test_emerging_terms_scans_corpus_once(spark):
    """The (bucket, word) aggregate is materialized once
    (localCheckpoint — vocab×buckets-bounded), so the final plan reads
    NO parquet at all: both cumulative-baseline windows and the bucket
    totals run on the materialized aggregate, never re-scanning text."""
    from xmlschemavalidator_spark.textops import emerging_terms

    docs = _docs(spark).select(
        (F.col("doc_id") % 12).alias("bucket"), "text"
    )
    p = fmt(emerging_terms(docs, "bucket", min_count=5))
    assert n_scans(p) == 0
    assert "Window" in p


def test_burrows_delta_broadcasts_top_words_and_stats(spark):
    """The doc×F lattice is materialized once (localCheckpoint), so the
    final plan scans no parquet; its two consumers — group profiles and
    per-word variance stats — both join BROADCAST against it (the
    corpus-linear side never shuffles against vocab-bounded ones)."""
    import re

    from xmlschemavalidator_spark.textops import burrows_delta_attribution

    p = fmt(burrows_delta_attribution(_docs(spark), top_words=10))
    assert n_scans(p) == 0  # lattice materialized, corpus read once
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 2


def test_weighted_quantile_one_sort_one_exchange(spark):
    """All requested quantiles ride ONE window sort: exactly one
    Exchange (the group partitioning) and one Sort; the ordered and
    unordered frames split into two Window operators over the same
    sorted child, which is free."""
    import re

    from xmlschemavalidator_spark.checks.stats import weighted_quantile

    out = weighted_quantile(
        _docs(spark), "n_chars", "n_chars", "doc_id",
        qs_pct=(25, 50, 75), group_cols=("lang",),
    )
    p = fmt(out)
    assert n_scans(p) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert len(re.findall(r"\(\d+\) Sort\b", p)) == 1


def test_species_richness_two_stacked_aggregates(spark):
    """Coverage/chao1 is groupBy(key) then groupBy(group): exactly two
    aggregate exchanges over one scan — never a countDistinct Expand."""
    from xmlschemavalidator_spark.checks.stats import species_richness

    docs = _docs(spark)
    p = fmt(species_richness(docs, "source", group_cols=("lang",)))
    assert n_scans(p) == 1
    assert "Expand" not in p


def test_keyness_counts_shuffle_not_text(spark):
    """Dunning keyness: two token aggregates + one vocab-sized outer
    join + WINDOW totals over the grouped vocab table (the
    heavy_hitters device) — the agg+crossJoin formulation recomputed
    the join branch and re-scanned the corpus (4 scans; caught here).
    Corpus text appears in exactly the two scans."""
    from xmlschemavalidator_spark.textops import keyness_terms

    docs = _docs(spark)
    p = fmt(
        keyness_terms(
            docs.where(F.col("lang") == "en"),
            docs.where(F.col("lang") == "de"),
            k=5,
        )
    )
    assert n_scans(p) == 2
    assert "Window" in p  # totals ride the grouped table, not a re-scan


def test_ql_dirichlet_single_token_pass(spark):
    """QL retrieval: the per-doc tf/dl lanes ride ONE token aggregate
    (no per-term join); the doc spine joins the aggregate once."""
    from xmlschemavalidator_spark.textops import ql_dirichlet_topk

    docs = _docs(spark)
    df = ql_dirichlet_topk(docs, "doc_id", ["spark", "hash"], k=5)
    p = fmt(df)
    import re as _re

    # scans: the token pass + the doc-id spine (stats collect ran at
    # build time and is not part of this plan)
    assert n_scans(p) == 2
    assert len(_re.findall(r"\(\d+\) SortMergeJoin|\(\d+\) BroadcastHashJoin", p)) <= 1
    assert "TakeOrderedAndProject" in p

"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:

  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "docs_per_sec": ..., "scaling": {...}}

The north-rule metric is validated docs/sec through the flagship web-page
ruleset (pass/fail + violation rows materialized). The scaling block is the
sandbox proxy for the N→4N-executor criterion (BASELINE.md): the identical
pages-validation job at local[8] vs local[32] on the same deterministic
input; efficiency = (throughput_32 / throughput_8) / 4.

Set SPARK_GRAFT_BENCH_SCALING=0 to skip the scaling runs (they restart the
SparkSession twice).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PAGES_ROWS = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "2000000"))
DO_SCALING = os.environ.get("SPARK_GRAFT_BENCH_SCALING", "1") != "0"
DO_SF1 = os.environ.get("SPARK_GRAFT_BENCH_SF1", "1") != "0"

# Healthy local[32] figure for the register-arithmetic control workload,
# recorded across canary-clean runs (BENCH/BASELINE.md). A headline run
# whose own control lands >25% below this is flagged host_degraded: its
# absolute times must not be compared across rounds (r2's phantom 2.6x
# "regression" was exactly this).
HEALTHY_CPU_ROWS_PER_SEC = 48_700_000

# Frozen cross-round-comparable core (VERDICT r4 item 8): the queries
# carried since rounds 1-3. The suite keeps growing (each round adds
# headline entries), which makes the grand total drift-prone as a
# round-over-round signal; the core total is computed over EXACTLY this
# pinned set and is the number to diff against prior rounds. Do NOT add
# to this set — new queries report under extended_sec.
CORE_QUERIES = frozenset(
    {
        "validate_documents", "column_stats", "uniqueness_lineitem",
        "referential_orders", "ks_drift", "agg_pricing", "join_revenue",
        "join_q3", "window_daily", "minhash_lsh", "simhash_sigs",
        "line_dedup", "decontam", "ann_topk", "html_extract",
        "bpe_tokenize", "semdedup", "dsir_select", "pages_validate_2m",
    }
)


def _count(df) -> int:
    return df.count()


def headline_queries():
    """name -> fn(spark) returning a DataFrame to be fully materialized."""
    from pyspark.sql import functions as F

    from xmlschemavalidator_spark.checks.drift import histogram, ks_drift
    from xmlschemavalidator_spark.checks.referential import referential_violations
    from xmlschemavalidator_spark.checks.stats import column_stats
    from xmlschemavalidator_spark.checks.uniqueness import duplicate_keys
    from xmlschemavalidator_spark.dedup import (
        minhash_lsh_candidates,
        simhash_signatures_df,
    )
    from xmlschemavalidator_spark.driver_queries import (
        agg_pricing_summary,
        ann_cosine_topk,
        bpe_tokenize,
        stylometry_burrows_delta,
        textrank_keywords_top20,
        corpus_line_dedup_stats,
        decontamination_overlap,
        dsir_selection,
        dsir_selection_frac,
        html_extract_text,
        lang_model_predict,
        main_content_extract,
        join_q3_shipping_priority,
        join_revenue_segment,
        text_bm25_topk,
        text_kneser_ney_lm,
        text_stupid_backoff_lm,
        trigram_substring_search_q,
        url_canonicalize,
        winnowing_candidate_pairs_docs,
        window_daily_events,
        wordpiece_tokenize,
        code_switch_report_q,
    )

    def _bench_pagerank(s):
        from xmlschemavalidator_spark.weburl import pagerank

        docs = s.read.parquet(f"{SF_DIR}/documents.parquet")
        edges = docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 17 + 3) % 50_000).alias("dst"),
        ).where(F.col("src") != F.col("dst"))
        return pagerank(edges, iterations=8)

    def _bench_anchor_topk(s):
        # ~2 anchors/page pointing at doc-derived targets with shared
        # anchor phrases: exercises extraction, the (target, anchor)
        # partial-agg count, and the salted two-phase top-k
        from xmlschemavalidator_spark.weburl import anchor_text_topk

        docs = s.read.parquet(f"{SF_DIR}/documents.parquet")
        pages = docs.withColumn(
            "html",
            F.concat(
                F.lit('<a href="http://t'),
                (F.col("doc_id") % 997).cast("string"),
                F.lit('.com/">anchor '),
                (F.col("doc_id") % 23).cast("string"),
                F.lit('</a><a href="http://hub.com/">'),
                F.when(F.col("doc_id") % 3 == 0, F.lit("home")).otherwise(
                    F.lit("start page")
                ),
                F.lit("</a>"),
            ),
        )
        return anchor_text_topk(pages, cap=10)
    from xmlschemavalidator_spark.engine import validate
    from xmlschemavalidator_spark.flagship import documents_ruleset

    def t(spark, name):
        return spark.read.parquet(f"{SF_DIR}/{name}.parquet")

    return {
        "validate_documents": lambda s: validate(
            t(s, "documents"), documents_ruleset(), key="doc_id"
        ).violations,
        "column_stats": lambda s: column_stats(t(s, "documents")),
        "uniqueness_lineitem": lambda s: duplicate_keys(t(s, "lineitem"), ["l_orderkey"]),
        "referential_orders": lambda s: referential_violations(
            t(s, "orders"), "o_custkey", t(s, "customer"), "c_custkey"
        ),
        "ks_drift": lambda s: ks_drift(
            histogram(t(s, "documents").where(F.col("lang") == "en"), "n_chars", 50),
            histogram(t(s, "documents").where(F.col("lang") != "en"), "n_chars", 50),
        ),
        "agg_pricing": lambda s: agg_pricing_summary(s, SF_DIR),
        "join_revenue": lambda s: join_revenue_segment(s, SF_DIR),
        "join_q3": lambda s: join_q3_shipping_priority(s, SF_DIR),
        "window_daily": lambda s: window_daily_events(s, SF_DIR),
        "minhash_lsh": lambda s: minhash_lsh_candidates(t(s, "documents"), "doc_id"),
        "simhash_sigs": lambda s: simhash_signatures_df(t(s, "documents"), "doc_id"),
        "line_dedup": lambda s: corpus_line_dedup_stats(s, SF_DIR),
        "decontam": lambda s: decontamination_overlap(s, SF_DIR),
        "ann_topk": lambda s: ann_cosine_topk(s, SF_DIR),
        # round-3 additions (BENCH/BASELINE.md notes the suite change):
        # HTML extraction, BPE train+encode, SemDeDup, DSIR selection.
        # semdedup runs the SCALE-shaped config (64 centroids, capped
        # clusters), not the oracle query's pinned-4-centroid setup whose
        # fat clusters would deliberately stress the pair join.
        "html_extract": lambda s: html_extract_text(s, SF_DIR),
        "bpe_tokenize": lambda s: bpe_tokenize(s, SF_DIR),
        "semdedup": lambda s: _bench_semdedup(s),
        "dsir_select": lambda s: dsir_selection(s, SF_DIR),
        # round-4: the corpus-fraction-k DSIR scale path (quantile
        # bracketing + narrow filter, no TakeOrderedAndProject) timed
        # against the same selection — VERDICT r3 item 1's bench entry;
        # trained char-trigram NB language ID (train + predict); jusText-
        # style main-content extraction
        "dsir_select_frac": lambda s: dsir_selection_frac(s, SF_DIR),
        "lang_nb_predict": lambda s: lang_model_predict(s, SF_DIR),
        "main_content": lambda s: main_content_extract(s, SF_DIR),
        # round-4 late additions: the URL layer's narrow canonicalization
        # projection (planted URLs over the documents table) and a
        # corpus-sized integer PageRank (one node/edge per document,
        # 8 iterations — 8x the join+partial-agg round trip, the honest
        # iterative-graph cost at this SF)
        "url_canonicalize": lambda s: url_canonicalize(s, SF_DIR),
        "link_pagerank": lambda s: _bench_pagerank(s),
        "anchor_topk": lambda s: _bench_anchor_topk(s),
        # round-4 session-5: BM25 retrieval (the full-corpus (doc, term)
        # agg + 3-term broadcast scoring — the from-scratch cost the
        # persisted index amortizes) and the WordPiece tokenizer
        # (train + greedy broadcast encode; completes the bpe/unigram/
        # wordpiece family in the suite)
        "bm25_topk": lambda s: text_bm25_topk(s, SF_DIR),
        "wordpiece_tokenize": lambda s: wordpiece_tokenize(s, SF_DIR),
        # round-4 session-6: multi-source BFS over the same 50k-node graph
        # PageRank uses (frontier joins + anti-joins, the exact-distance
        # counterpart of HyperBall)
        "link_bfs": lambda s: _bench_bfs(s),
        # round-4 session-7: interpolated Kneser-Ney (in-query train +
        # full-corpus scoring — the smoothing upgrade's honest cost next
        # to the add-alpha model) and winnowing candidate pairs (MOSS
        # fingerprints at the measured-selective k=20/w=12 + capped
        # inverted-index pairing — the guaranteed-recall dedup path)
        "kneser_ney": lambda s: text_kneser_ney_lm(s, SF_DIR),
        "winnowing_pairs": lambda s: winnowing_candidate_pairs_docs(s, SF_DIR),
        # round-4 session-7 late: Stupid Backoff trigram LM (the
        # web-scale LM — one trigram groupBy feeds every backoff level,
        # in-query train + full-corpus scoring: the heaviest LM in the
        # family, priced next to bigram/KN) and trigram substring search
        # (pg_trgm: index build + lossless candidate prune + exact verify
        # vs what a LIKE scan would pay)
        "sb_trigram_lm": lambda s: text_stupid_backoff_lm(s, SF_DIR),
        "substring_search": lambda s: trigram_substring_search_q(s, SF_DIR),
        # round-4 session-8: content-defined chunk dedup (the disjoint-
        # chunk sibling of ExactSubstr: pure-HOF chunking, two stacked
        # groupBys — ~n/divisor hashes per doc vs n window hashes) and
        # RAKE keyword extraction (zero corpus state: per-doc phrase
        # building + (doc,word) stats + per-doc top-k window)
        "cdc_chunk_dedup": lambda s: _bench_cdc_chunks(s),
        "rake_keywords": lambda s: _bench_rake(s),
        # round-4 session-9: TextRank (the iterative-graph keyword path —
        # one corpus scan builds the vocab-bounded co-occurrence graph,
        # then 8 integer PageRank rounds whose cost is independent of
        # corpus rows) and Burrows' Delta stylometric attribution (the
        # doc×F lattice + G group profiles + argmin — linear fan-out with
        # small constants, never doc×doc)
        "textrank": lambda s: textrank_keywords_top20(s, SF_DIR),
        "burrows_delta": lambda s: stylometry_burrows_delta(s, SF_DIR),
        # round-4 session-10: paragraph-level code-switch detection (one
        # Generate + per-paragraph stopword lang vote over the corpus —
        # the mixed-doc guard every per-lang statistic depends on) and
        # the full audit-sampling loop (Neyman design + fixed-k draw +
        # design-based estimate: three #strata-bounded stages over two
        # corpus scans)
        "code_switch": lambda s: code_switch_report_q(s, SF_DIR),
        "stratified_audit": lambda s: _bench_stratified_audit(s),
    }


def _bench_stratified_audit(spark):
    from xmlschemavalidator_spark.sampling import (
        stratified_estimate,
        stratified_fixed_k,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(
        "lang IS NOT NULL"
    )
    sample = stratified_fixed_k(docs, "doc_id", "lang", k=1000, salt="audit")
    return stratified_estimate(docs, sample, "n_chars", "lang")


def _bench_cdc_chunks(spark):
    from xmlschemavalidator_spark.dedup import cdc_duplicate_chunks

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return cdc_duplicate_chunks(docs, divisor=16)


def _bench_rake(spark):
    from xmlschemavalidator_spark.textops import rake_keywords

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return rake_keywords(docs, k=5)


def _bench_bfs(spark):
    from pyspark.sql import functions as F

    from xmlschemavalidator_spark.weburl import bfs_distances

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    edges = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 17 + 3) % 50_000).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    return bfs_distances(edges, sources=[0, 1, 2, 3], max_hops=8)


def _bench_semdedup(spark):
    from pyspark.sql import functions as F

    from xmlschemavalidator_spark.dedup import semdedup

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.where(F.col("vec_id") < 64).orderBy("vec_id").collect()
    ]
    return semdedup(emb, "embedding", cents, threshold=0.8, max_cluster=2000)


def pages_validation_docs_per_sec(spark, n_rows: int, path: str | None = None) -> float:
    """The north-rule workload: validate n_rows pages (violations to a
    noop sink + per-partition verdicts collected). With ``path`` the input
    is pre-materialized parquet (the realistic pipeline shape — matches
    the scaling protocol); without it, generation happens inside the timed
    region (kept for ad-hoc use)."""
    from xmlschemavalidator_spark.datagen import pages
    from xmlschemavalidator_spark.flagship import run_flagship

    if path is not None:
        df = spark.read.parquet(path)
    else:
        df = pages(spark, n_rows, partitions=spark.sparkContext.defaultParallelism * 2)
    t0 = time.time()
    res = run_flagship(df)
    res.violations.write.mode("overwrite").format("noop").save()
    res.partition_summary.collect()
    return n_rows / (time.time() - t0)


def _validate_parquet_docs_per_sec(spark, path: str, n_rows: int, reps: int = 2) -> float:
    """Validation-only throughput: flagship ruleset over a materialized
    parquet pages table (the realistic shape — real pipelines read
    Iceberg/parquet, they don't generate). Warmup run + best of reps."""
    from xmlschemavalidator_spark.flagship import run_flagship

    df = spark.read.parquet(path)
    warm = run_flagship(df.limit(50_000))
    warm.violations.write.mode("overwrite").format("noop").save()
    best = 0.0
    for _ in range(reps):
        t0 = time.time()
        res = run_flagship(df)
        res.violations.write.mode("overwrite").format("noop").save()
        res.partition_summary.collect()
        best = max(best, n_rows / (time.time() - t0))
    return best


def _cpu_bound_rows_per_sec(spark, n_rows: int, reps: int = 2) -> float:
    """The Amdahl control workload: 32 chained xxhash64 rounds per row over
    ``spark.range`` — pure register arithmetic on 8-byte rows, near-zero
    memory traffic per unit compute, no parquet scan, no shuffle, no
    Python. If the 16→32-thread collapse seen on the validation workload
    were a hidden serial section in the engine (Amdahl), it would show
    here too; if this workload keeps scaling past 16 threads while the
    scan-heavy one flattens, the collapse is memory bandwidth."""
    from pyspark.sql import functions as F

    col = F.col("id")
    for i in range(32):
        col = F.xxhash64(col, F.lit(i))
    # pmod keeps the ANSI sum in safe range (CLAUDE.md hash-arithmetic rule)
    expr = F.sum(F.pmod(col, F.lit(1_000_000)))
    spark.range(n_rows // 10).select(expr).collect()  # warm codegen
    best = 0.0
    for _ in range(reps):
        t0 = time.time()
        spark.range(n_rows).select(expr).collect()
        best = max(best, n_rows / (time.time() - t0))
    return best


def run_scaling(n_rows: int) -> dict:
    """The sandbox proxy for the north rule's N→4N-executor criterion:
    the identical validation job over the same materialized parquet input
    at two parallelism levels; efficiency = throughput ratio / 4.

    Primary pairing is local[4] → local[16]: measured per-thread throughput
    on this host is flat from 4 to 16 threads but drops ~40% from 16 to 32
    (single-socket memory-bandwidth saturation — one shared memory bus,
    whereas real 4N executors each bring their own). The 8→32 pairing is
    reported too, with that saturation caveat.
    """
    import shutil
    import tempfile

    from xmlschemavalidator_spark.datagen import pages
    from xmlschemavalidator_spark.session import get_spark

    n_rows = max(n_rows * 2, 4_000_000)
    tmp = tempfile.mkdtemp(prefix="bench_pages_")
    path = f"{tmp}/pages"
    gen = get_spark(app_name="bench-gen", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    gen.sparkContext.setLogLevel("ERROR")
    pages(gen, n_rows, partitions=64).write.parquet(path)
    gen.stop()

    out: dict = {"scaling_rows": n_rows}
    try:
        for cores in (4, 16, 8, 32):
            spark = get_spark(
                app_name=f"bench-scaling-{cores}",
                master=f"local[{cores}]",
                shuffle_partitions=cores,
            )
            spark.sparkContext.setLogLevel("ERROR")
            reps = 3 if cores >= 16 else 2  # high-core runs need JIT settle
            out[f"docs_per_sec_local{cores}"] = round(
                _validate_parquet_docs_per_sec(spark, path, n_rows, reps), 1
            )
            out[f"cpu_rows_per_sec_local{cores}"] = round(
                _cpu_bound_rows_per_sec(spark, 40_000_000, reps=2), 1
            )
            spark.stop()
        out["efficiency_4_to_16"] = round(
            (out["docs_per_sec_local16"] / out["docs_per_sec_local4"]) / 4.0, 3
        )
        out["efficiency_8_to_32"] = round(
            (out["docs_per_sec_local32"] / out["docs_per_sec_local8"]) / 4.0, 3
        )
        out["cpu_efficiency_4_to_16"] = round(
            (out["cpu_rows_per_sec_local16"] / out["cpu_rows_per_sec_local4"]) / 4.0, 3
        )
        out["cpu_efficiency_8_to_32"] = round(
            (out["cpu_rows_per_sec_local32"] / out["cpu_rows_per_sec_local8"]) / 4.0, 3
        )
        out["note"] = (
            "4->16 is the primary N->4N proxy; >16 threads saturates this "
            "host's single memory bus (not representative of 4N executors). "
            "cpu_* rows are the Amdahl control: a register-arithmetic "
            "workload with near-zero memory traffic — if it scales past 16 "
            "threads while the scan-heavy validation flattens, the collapse "
            "is bandwidth, not a serial section in the engine."
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def run_sf1_probe(spark) -> dict:
    """10x scale probe (VERDICT r2 item 7): the scale-sensitive operators
    at 1x/4x/10x the headline documents table, every size built with the
    IDENTICAL replica structure (each doc group has the same 10
    near-identical members at every size), so candidate-pair structure is
    held constant and time differences isolate ENGINE scaling.

    Superlinearity is judged against a two-point linear fit, which cancels
    fixed per-job overhead (review finding: a raw t_10x/t_1x ratio is
    overhead-dominated at these sizes and leaves the alarm ~15x slack):
    ``pred_10x = t_1x + 3·(t_4x − t_1x)``;
    ``superlinearity = t_10x / pred_10x`` — ~1.0 linear, > 1.5 flagged.
    The prediction floor (1.2·t_1x) keeps a noisy near-zero slope from
    manufacturing false alarms on sub-second queries."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from xmlschemavalidator_spark.dedup import (
        drop_duplicate_lines,
        minhash_lsh_candidates,
        simhash_near_duplicates,
    )
    from xmlschemavalidator_spark.engine import validate
    from xmlschemavalidator_spark.flagship import documents_ruleset

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def replicate(df):
        # 10 near-identical replicas per doc: one appended marker token —
        # same dup-cluster shape at both scales (10-row broadcast join)
        reps = spark.range(10).select(F.col("id").alias("_rep"))
        return (
            df.crossJoin(F.broadcast(reps))
            .withColumn(
                "doc_id", F.col("doc_id") + F.col("_rep") * F.lit(1_000_000_000)
            )
            .withColumn(
                "text",
                F.concat_ws(
                    " ", F.col("text"), F.concat(F.lit("rep"), F.col("_rep"))
                ),
            )
            .drop("_rep")
        )

    tmp = tempfile.mkdtemp(prefix="bench_sf1_")
    paths = {
        1: f"{tmp}/docs_1x",
        4: f"{tmp}/docs_4x",
        10: f"{tmp}/docs_10x",
    }
    replicate(base.where(F.col("doc_id") % 10 == 0)).write.parquet(paths[1])
    replicate(base.where(F.col("doc_id") % 10 <= 3)).write.parquet(paths[4])
    replicate(base).write.parquet(paths[10])

    probes = {
        "validate_documents": lambda df: validate(
            df, documents_ruleset(), key="doc_id"
        ).violations,
        "minhash_lsh": lambda df: minhash_lsh_candidates(df, "doc_id"),
        "simhash_near_dups": lambda df: simhash_near_duplicates(df, "doc_id"),
        "line_dedup": lambda df: drop_duplicate_lines(df, "doc_id"),
    }
    out: dict = {"queries": {}, "superlinear": []}
    try:
        dfs = {m: spark.read.parquet(p) for m, p in paths.items()}
        for m in (1, 4, 10):
            out[f"rows_{m}x"] = dfs[m].count()
        for name, fn in probes.items():
            _count(fn(dfs[1]))  # warm the code path before any timing
            t = {}
            for m in (1, 4, 10):
                t0 = time.time()
                _count(fn(dfs[m]))
                t[m] = time.time() - t0
            pred = max(t[1] + 3.0 * (t[4] - t[1]), t[1] * 1.2)
            ratio = round(t[10] / pred, 3) if pred > 0 else None
            out["queries"][name] = {
                "sec_1x": round(t[1], 3),
                "sec_4x": round(t[4], 3),
                "sec_10x": round(t[10], 3),
                "pred_10x_linear": round(pred, 3),
                "superlinearity": ratio,
            }
            if ratio is not None and ratio > 1.5:
                out["superlinear"].append(name)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    out["note"] = (
        "superlinearity = t_10x / (t_1x + 3*(t_4x - t_1x)) over "
        "same-structure corpora — overhead cancels in the fit; ~1.0 "
        "linear, >1.5 flagged superlinear"
    )
    return out


def run_headline_suite(spark, pages_path: str) -> dict:
    """One canary-wrapped pass over the headline suite + pages metric.
    The pre/post register-arithmetic canaries bracket everything timed,
    so a mid-run hypervisor dip is visible from this attempt's own JSON."""
    cpu_pre = _cpu_bound_rows_per_sec(spark, 40_000_000, reps=2)
    times: dict[str, float] = {}
    for name, fn in headline_queries().items():
        t0 = time.time()
        _count(fn(spark))
        times[name] = round(time.time() - t0, 3)
    # pages metric per the BENCH/BASELINE.md protocol: validation-only over
    # PRE-MATERIALIZED parquet (generation is harness cost, not engine
    # cost), steady state after a warmup run
    pages_validation_docs_per_sec(spark, PAGES_ROWS, pages_path)  # JIT warmup
    t0 = time.time()
    dps = pages_validation_docs_per_sec(spark, PAGES_ROWS, pages_path)
    times["pages_validate_2m"] = round(time.time() - t0, 3)
    cpu_post = _cpu_bound_rows_per_sec(spark, 40_000_000, reps=2)
    return {
        "times": times,
        "dps": dps,
        "cpu_pre": cpu_pre,
        "cpu_post": cpu_post,
        "cpu_canary": min(cpu_pre, cpu_post),
    }


def main() -> None:
    import shutil
    import tempfile

    from xmlschemavalidator_spark.datagen import pages as _pages
    from xmlschemavalidator_spark.session import get_spark

    spark = get_spark(app_name="bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM (parquet reader, codegen, broadcast machinery) so the
    # first timed query doesn't absorb session startup
    for t in ("documents", "lineitem", "customer"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()

    tmp = tempfile.mkdtemp(prefix="bench_hl_pages_")
    pages_path = f"{tmp}/pages"
    _pages(spark, PAGES_ROWS, partitions=CPUS * 2).write.parquet(pages_path)

    # VERDICT r3 item 2: when the canary flags mid-run host degradation,
    # retry the headline suite ONCE (same session, same materialized pages)
    # and keep the attempt with the healthier canary, so the per-round
    # artifact is cross-comparable without a manual re-run.
    attempt = run_headline_suite(spark, pages_path)
    retried = False
    discarded_canary = None
    if CPUS == 32 and attempt["cpu_canary"] < 0.75 * HEALTHY_CPU_ROWS_PER_SEC:
        retry = run_headline_suite(spark, pages_path)
        retried = True
        if retry["cpu_canary"] > attempt["cpu_canary"]:
            discarded_canary = round(attempt["cpu_canary"], 1)
            attempt = retry
        else:
            discarded_canary = round(retry["cpu_canary"], 1)
    times, dps = attempt["times"], attempt["dps"]
    cpu_pre, cpu_post = attempt["cpu_pre"], attempt["cpu_post"]
    cpu_canary = attempt["cpu_canary"]
    shutil.rmtree(tmp, ignore_errors=True)

    sf1 = run_sf1_probe(spark) if DO_SF1 else {}
    spark.stop()

    scaling = run_scaling(PAGES_ROWS) if DO_SCALING else {}

    missing_core = CORE_QUERIES - set(times)
    if missing_core:
        raise RuntimeError(f"pinned core queries missing from suite: {sorted(missing_core)}")
    result = {
        "metric": "headline suite wall time (validated docs/sec in docs_per_sec)",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        # cross-round signal: core_sec is the frozen r1-r3 carried set
        # (diff THIS against prior rounds); extended_sec is everything
        # added since (grows with coverage, not comparable across rounds)
        "core_sec": round(sum(v for k, v in times.items() if k in CORE_QUERIES), 3),
        "extended_sec": round(sum(v for k, v in times.items() if k not in CORE_QUERIES), 3),
        "core_queries": sorted(CORE_QUERIES),
        "queries": times,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "docs_per_sec": round(dps, 1),
        "pages_rows": PAGES_ROWS,
        "cpus": CPUS,
        "cpu_rows_per_sec": round(cpu_canary, 1),
        "cpu_rows_per_sec_pre": round(cpu_pre, 1),
        "cpu_rows_per_sec_post": round(cpu_post, 1),
        "healthy_cpu_rows_per_sec": HEALTHY_CPU_ROWS_PER_SEC,
        # the healthy figure is local[32]-specific; at other CPUS settings
        # the flag would be meaningless, so it is null there
        "host_degraded": (
            cpu_canary < 0.75 * HEALTHY_CPU_ROWS_PER_SEC if CPUS == 32 else None
        ),
        "headline_retried": retried,
        "discarded_canary": discarded_canary,
        "sf1_probe": sf1,
        "scaling": scaling,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()

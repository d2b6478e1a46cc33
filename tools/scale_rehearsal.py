"""Pipeline scale rehearsal (r3 VERDICT item 8; URL/robots/UniMax stages
added in r4): run the FULL composed corpus pipeline — every optional
stage the corpus can drive on (no html column, so --main-content is
exercised by its own test/oracle instead) — at 2M and 20M docs, record
per-stage wall time, and flag any stage whose 20M/2M ratio exceeds the
superlinearity bar (~12x: 10x data plus scheduling slack). Results land
in SCALE.md's rehearsal table.

The planted URL column is crawl-shaped: 200k distinct registered
domains, ~2% badword paths, /private/ trees robots-blocked on 1/4 of
hosts, and 1% canonical-dup classes of ~100 members (only meaningful at
>=2M rows — below 200k docs every host is unique and URL dedup is a
no-op pass-through, as the smoke shows).

    python tools/scale_rehearsal.py [--small 2000000] [--big 20000000]

NEVER run concurrently with bench.py or any other Spark job — timings
are garbage under contention (CLAUDE.md hard rule).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")
)


def run_at(spark, n_rows: int, workdir: str) -> tuple[dict, dict, float]:
    from corpus_pipeline_job import run_pipeline

    from xmlschemavalidator_spark.datagen import documents

    from pyspark.sql import functions as F

    path = f"{workdir}/docs_{n_rows}"
    base = documents(
        spark, n_rows, partitions=spark.sparkContext.defaultParallelism * 2
    )
    # plant a crawl-shaped url column (round 4: the URL stages are part of
    # the rehearsal): ~200k distinct hosts, ~2% badword paths, canonical
    # collisions via trailing slash + a tracking param, directory indexes
    # for the robots rules
    d = F.col("doc_id")
    base = base.withColumn(
        "url",
        F.concat(
            F.lit("http://site"),
            (d % 200_000).cast("string"),
            F.lit(".com/"),
            # unique path by default so URL dedup only collapses the
            # planted ~1% dup slice (a blanket collision would starve
            # every DOWNSTREAM stage of its 20M-scale measurement):
            # ~2% badword paths, ~14% robots-scoped /private/ (blocked
            # only on the 1/4 of hosts that carry robots), 1% dup
            # classes of ~100 members each
            F.when(d % 50 == 0, F.concat(F.lit("casino/"), d.cast("string")))
            .when(d % 7 == 0, F.concat(F.lit("private/"), d.cast("string")))
            .when(d % 100 == 1, F.concat(F.lit("dup/"), (d % 1000).cast("string")))
            .otherwise(F.concat(F.lit("p/"), d.cast("string"))),
            F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(d % 3 == 0, F.lit("?utm_source=r&a=1")).otherwise(F.lit("")),
        ),
    )
    base.write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)
    bench = docs.where(F.col("doc_id") % 5000 == 0).select("doc_id", "text")
    # robots for 1/4 of hosts: disallow the /private/ subtree
    robots = (
        docs.select((F.col("doc_id") % 200_000).alias("hid"))
        .where(F.col("hid") % 4 == 0)
        .distinct()
        .select(
            F.concat(F.lit("site"), F.col("hid").cast("string"),
                     F.lit(".com")).alias("host"),
            F.concat(
                F.lit("User-agent: *"), F.expr("chr(10)"),
                F.lit("Disallow: /private/"),
            ).alias("robots_txt"),
        )
    )
    out = f"{workdir}/out_{n_rows}"
    times: dict = {}
    t0 = time.time()
    audit = run_pipeline(
        spark,
        docs,
        out,
        benchmark=bench,
        mix={"en": 1.0, "de": 0.7, "sv": 0.7, "fr": 0.7, "zh": 0.7},
        # round 4: UniMax replaces the flat per-lang budget (one total
        # char budget, epoch cap 2 — oversubscribed so every lang caps,
        # exercising the epoch-explode path at 20M)
        unimax_budget=10**13,
        unimax_max_epochs=2,
        batch_id=f"rehearsal-{n_rows}",
        # round 4 URL layer: robots -> badwords -> canonical dedup ->
        # domain cap (cap far above per-host counts so it measures the
        # salted-window cost, not extra filtering)
        url_col="url",
        robots_df=robots,
        url_badwords=["casino"],
        url_dedup_on=True,
        domain_cap_n=1000,
        pack_seq_len=512,
        use_quality_model=True,
        ccnet_keep="head,middle",
        shuffle_shards=8,
        fix_encoding=True,
        # classifier: the in-run weak-trained lang NB is part of the
        # rehearsal (review finding: 'input' silently skipped the round's
        # new corpus-scale stage). --main-content stays off: the rehearsal
        # corpus has no html column (that stage is covered by its own
        # pipeline test + oracle).
        lang_from="classifier",
        stage_times=times,
    )
    return audit, times, time.time() - t0


def run_index_at(spark, docs_path: str, n_rows: int, workdir: str) -> tuple[dict, dict]:
    """Index-path rehearsal (r4 VERDICT item 6): the persisted inverted
    text index (build → append a 1% batch → serve a fixed query set) —
    the major STATEFUL path the pipeline rehearsal doesn't cover. The
    serve runs twice and must be BIT-IDENTICAL (persisted-index
    determinism); stage walls feed the same 20M/2M ratio table."""
    from pyspark.sql import functions as F

    from xmlschemavalidator_spark.textindex import (
        append_text_index,
        bm25_index_topk,
        build_text_index,
    )

    times: dict = {}
    audit: dict = {}

    def stage(name, fn):
        t0 = time.time()
        out = fn()
        times[name] = round(time.time() - t0, 1)
        return out

    docs = spark.read.parquet(docs_path)
    main_docs = docs.where(F.col("doc_id") % 100 != 0).select("doc_id", "text")
    late_docs = docs.where(F.col("doc_id") % 100 == 0).select("doc_id", "text")
    idx = f"{workdir}/textindex_{n_rows}"
    stage("index_build", lambda: build_text_index(
        main_docs, "doc_id", idx, n_buckets=64, batch_id="b0"))
    stage("index_append", lambda: append_text_index(
        late_docs, "doc_id", idx, batch_id="b1"))
    # fixed query set drawn from the corpus itself (2 leading words of 5
    # spread docs) so the serves measurably hit postings
    qdocs = docs.where(F.col("doc_id").isin([1, 11, 21, 31, 41])).orderBy(
        "doc_id").select("text").collect()
    queries = [
        [w.lower() for w in (r["text"] or "").split()[:2]] or ["the"]
        for r in qdocs
    ]

    def serve_text():
        return [
            [(r["doc"], r["score_micro"]) for r in
             bm25_index_topk(spark, idx, q, k=10).collect()]
            for q in queries
        ]

    first = stage("index_query", serve_text)
    again = serve_text()
    audit["index_query_deterministic"] = first == again
    audit["index_query_hits"] = sum(len(h) for h in first)
    return audit, times


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--small", type=int, default=2_000_000)
    p.add_argument("--big", type=int, default=20_000_000)
    p.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    p.add_argument("--ratio-bar", type=float, default=12.0)
    p.add_argument("--no-index", action="store_true",
                   help="skip the text-index rehearsal phase")
    p.add_argument("--no-pipeline", action="store_true",
                   help="skip the composed-pipeline phase (index only)")
    args = p.parse_args()

    # the pipeline holds ~12 stage checkpoints live (validated feeds the
    # NB/LM teachers) — at 20M docs the default 8g single-JVM heap OOMs
    # before disk spill kicks in. Real clusters size executors; here the
    # rehearsal claims the host's RAM explicitly.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")

    from xmlschemavalidator_spark.session import get_spark

    spark = get_spark(
        app_name="scale-rehearsal",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    workdir = tempfile.mkdtemp(prefix="scale_rehearsal_")
    try:
        rows = []
        flagged = []

        def ratio_rows(a_small, t_small, a_big, t_big):
            for name in t_big:
                s, b = t_small.get(name), t_big[name]
                ratio = round(b / s, 2) if s and s > 0.5 else None  # sub-.5s: noise
                rows.append({
                    "stage": name,
                    "rows_small": a_small.get(name),
                    "rows_big": a_big.get(name),
                    "sec_small": s,
                    "sec_big": b,
                    "ratio": ratio,
                })
                if ratio is not None and ratio > args.ratio_bar:
                    flagged.append(name)

        result: dict = {"small": args.small, "big": args.big}
        a_small = a_big = {}
        if not args.no_pipeline:
            a_small, t_small, w_small = run_at(spark, args.small, workdir)
            a_big, t_big, w_big = run_at(spark, args.big, workdir)
            ratio_rows(a_small, t_small, a_big, t_big)
            result.update({
                "wall_small": round(w_small, 1),
                "wall_big": round(w_big, 1),
                "wall_ratio": round(w_big / w_small, 2),
            })
        if not args.no_index:
            for n in (args.small, args.big):
                dpath = f"{workdir}/docs_{n}"
                if not os.path.isdir(dpath):
                    from xmlschemavalidator_spark.datagen import documents

                    documents(
                        spark, n,
                        partitions=spark.sparkContext.defaultParallelism * 2,
                    ).write.mode("overwrite").parquet(dpath)
            ia_small, it_small = run_index_at(
                spark, f"{workdir}/docs_{args.small}", args.small, workdir)
            ia_big, it_big = run_index_at(
                spark, f"{workdir}/docs_{args.big}", args.big, workdir)
            ratio_rows({}, it_small, {}, it_big)
            result["index_audit_small"] = ia_small
            result["index_audit_big"] = ia_big
            for aud in (ia_small, ia_big):
                if not aud.get("index_query_deterministic", False):
                    flagged.append("NONDETERMINISTIC:index_query_deterministic")
        result.update({
            "stages": rows,
            "superlinear_stages": flagged,
            "audit_small": a_small,
            "audit_big": a_big,
        })
        print(json.dumps(result, indent=2))
        return 0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())

"""spark-submit entry point for the full training-corpus pipeline — the
composed "a user of the reference could run their whole prep here" job:

    validate → quality filter (gopher) [→ learned NB quality model
    (--quality-model)] → C4 line dedup → exact dedup
    (incremental vs a fingerprint store) → near-dup drop (MinHash-LSH +
    connected components; with --near-store ALSO incremental vs a
    persistent LSH bucket store, so near-dups of EARLIER batches drop
    too) → decontaminate vs a benchmark → stratified mix
    → per-language token budget → write kept corpus + audit tables
    [→ chunk + pack fixed-length training sequences (--pack-seq-len)]

Usage:

    python tools/make_pyfiles.py   # builds dist/xmlschemavalidator_spark.zip
    spark-submit \\
        --py-files dist/xmlschemavalidator_spark.zip \\
        jobs/corpus_pipeline_job.py \\
        --input  /data/documents        # parquet: (doc_id, text, lang, ...)
        --output /data/corpus_out       # kept/batch_id=<id>/ +
                                        # audit/<id>/ + fingerprint store
                                        # (per-batch dirs: later batches
                                        # never clobber earlier ones)
        --batch-id crawl-2026-08-17     # stamps the fingerprint store:
                                        # retrying the SAME batch id is
                                        # idempotent (the batch excludes
                                        # its own earlier commit)
        [--store /data/fingerprints]    # shared fingerprint store
                                        # (default: <output>/fingerprints)
        [--benchmark /data/eval_docs]   # decontamination reference corpus
        [--budget-per-lang N]           # chars kept per language (0 = off)
        (no --input: the sf0.001 testdata documents table is used)

Every stage is the library operator the test suite and the DuckDB oracle
gate cover — this file only composes them and writes audit surfaces
(drop counts per stage), so the pipeline's data movement is exactly what
OPERATORS.md/SCALE.md document per stage.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def run_pipeline(
    spark: SparkSession,
    docs,
    output: str,
    benchmark=None,
    mix: dict[str, float] | None = None,
    budget_per_lang: int = 0,
    id_col: str = "doc_id",
    batch_id: str | None = None,
    store: str | None = None,
    near_store: str | None = None,
    pack_seq_len: int = 0,
    use_quality_model: bool = False,
    keep_policy: str = "first",
    shuffle_shards: int = 0,
    ccnet_keep: str | None = None,
    fix_encoding: bool = False,
    dedup_normalize: bool = False,
    lang_from: str = "auto",
    extract_main_content: bool = False,
    url_col: str | None = None,
    url_dedup_on: bool = False,
    url_dedup_policy: str = "longest",
    domain_cap_n: int = 0,
    domain_cap_stage: str = "after_quality",
    url_badwords: list[str] | None = None,
    robots_df=None,
    unimax_budget: int = 0,
    unimax_max_epochs: int = 2,
    temperature_budget: int = 0,
    temperature_alpha: float = 0.3,
    index_dir: str | None = None,
    index_positions: bool = False,
    stage_times: dict | None = None,
) -> dict:
    """Compose the pipeline over an in-memory DataFrame; returns the
    per-stage audit dict (also written to <output>/audit/<batch_id>/).
    Factored out of main() so tests can drive it without spark-submit.

    Outputs are PER BATCH (round-3 ADVICE fix): kept docs land in
    <output>/kept/batch_id=<id>/ and audit surfaces in
    <output>/audit/<batch_id>/ — a later batch in the same output dir
    never clobbers an earlier batch's only emitted corpus (whose docs are
    committed as seen in the fingerprint store and would never re-emit).
    Retrying the SAME batch id overwrites only that batch's own dirs.
    ``store`` decouples the persistent fingerprint store from the output
    dir (default: <output>/fingerprints) so several output roots can share
    one dedup history; ``near_store`` (opt-in, no default path) does the
    same for the LSH bucket store that makes the near-dup stage
    cross-batch. batch_id doubles as a directory name — keep it to
    filesystem-safe characters (it is the partition value either way)."""
    from xmlschemavalidator_spark.dedup import (
        commit_seen_buckets,
        commit_seen_fingerprints,
        drop_contaminated,
        drop_duplicate_lines,
        drop_near_duplicates,
        incremental_exact_dedup,
        incremental_near_dedup,
        minhash_lsh_candidates,
    )
    from xmlschemavalidator_spark.engine import split_valid, validate
    from xmlschemavalidator_spark.flagship import documents_ruleset
    from xmlschemavalidator_spark.sampling import stratified_sample, token_budget_select
    from xmlschemavalidator_spark.textops import gopher_pass

    if keep_policy not in ("first", "longest"):
        raise ValueError(f"keep_policy must be 'first' or 'longest', got {keep_policy!r}")
    if keep_policy == "longest" and near_store:
        # the incremental store's semantics ARE first-seen (an earlier
        # batch's committed doc always wins) — silently accepting
        # 'longest' here would promise a policy the stage can't honor
        raise ValueError("keep_policy='longest' requires the within-batch "
                         "near-dup stage (drop --near-store)")
    if url_dedup_policy not in ("longest", "latest"):
        raise ValueError(
            "url_dedup_policy must be 'longest' or 'latest', "
            f"got {url_dedup_policy!r}"
        )
    if url_dedup_on and url_dedup_policy == "latest":
        # statically-knowable config errors must surface BEFORE the
        # input/robots/badwords stages materialize the corpus (review
        # finding — same rule as the budget-policy check below); and a
        # string warc_ts would pass a presence check only to throw an
        # ANSI cast error mid-stage, so require a castable type here
        if "warc_ts" not in docs.columns:
            raise ValueError(
                "url_dedup_policy='latest' requires a warc_ts column"
            )
        from pyspark.sql.types import NumericType, TimestampType, TimestampNTZType

        ts_type = docs.schema["warc_ts"].dataType
        if not isinstance(
            ts_type, (NumericType, TimestampType, TimestampNTZType)
        ):
            raise ValueError(
                "url_dedup_policy='latest' needs a timestamp or numeric "
                f"warc_ts column, got {ts_type.simpleString()}"
            )
    if sum(x > 0 for x in (budget_per_lang, unimax_budget, temperature_budget)) > 1:
        # config errors surface BEFORE any stage runs (review finding:
        # raising this at stage 8 burned the whole upstream pipeline first)
        raise ValueError("--budget-per-lang, --unimax-budget and "
                         "--temperature-mix are alternative budget "
                         "policies — pick one")
    if not batch_id:
        # a SHARED default would make every run look like a retry of the
        # previous one and silently disable cross-batch dedup (third-review
        # finding) — the caller must name each logical batch uniquely
        raise ValueError(
            "batch_id is required and must be unique per logical batch "
            "(e.g. the crawl/snapshot id); retries reuse the same id"
        )
    store = store or f"{output}/fingerprints"
    # the fingerprint SPACE (raw vs normalized text) is a property of the
    # store: a store committed in one space silently never matches keys
    # from the other, so the mismatch must be an error, not a no-op dedup.
    # The marker lives in a SIBLING path: nesting it under the store
    # would create the store dir before any fingerprint commit, flipping
    # incremental_exact_dedup's exists-check onto an empty dir
    # (UNABLE_TO_INFER_SCHEMA — reproduced). It is config, not dedup
    # state, so output-first ordering does not apply.
    space = "normalized" if dedup_normalize else "raw"
    # rstrip: a trailing-slash --store would nest the marker INSIDE the
    # store dir, recreating the empty-dir exists-check failure the
    # sibling placement avoids (review finding)
    space_path = f"{store.rstrip('/')}_space"
    try:
        marker = spark.read.parquet(space_path).first()
    except Exception as e:  # noqa: BLE001 — filtered to PATH_NOT_FOUND below
        # ONLY a missing marker means 'first batch' — any other read
        # failure must raise, or a transient storage error would rewrite
        # the marker and silently disable the guard (review finding; the
        # same rule as dedup._read_store)
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
        spark.createDataFrame([(space,)], "space string").coalesce(
            1
        ).write.mode("overwrite").parquet(space_path)
    else:
        existing_space = marker["space"] if marker is not None else None
        if existing_space != space:
            flag = (
                "with --dedup-normalize"
                if existing_space == "normalized"
                else "without --dedup-normalize"
            )
            raise ValueError(
                f"fingerprint store {store} was committed with "
                f"{existing_space or 'an unreadable'} fingerprint space; "
                f"rerun {flag}, or point --store elsewhere"
            )
    kept_path = f"{output}/kept/batch_id={batch_id}"
    audit_dir = f"{output}/audit/{batch_id}"
    audit: dict = {}
    persisted = []

    def write_audit():
        with open_spark_safe(f"{audit_dir}/stages.json") as fh:
            json.dump(audit, fh, indent=2)

    def stage(name, df):
        # materialize AND truncate lineage at every stage boundary.
        # persist() alone kept the full logical plan chained across all
        # ~10 stages; with the LM-tercile stage in the mix the plan TREE
        # (not the data) OOM'd a default-1g spark-submit driver while
        # Spark generated its tree strings. localCheckpoint bounds each
        # stage's plan to that stage's own operators — the lineage fix,
        # not a driver-memory bump. (Local checkpoint is executor-local;
        # on a real cluster with dynamic executors, configure a reliable
        # checkpoint dir and use df.checkpoint() instead.) It also keeps
        # the round-2 guarantee: downstream stages read the materialized
        # result instead of re-running validate+dedup up to ~9x.
        import time as _time

        t0 = _time.time()
        df = df.localCheckpoint(eager=True)
        persisted.append(df)
        audit[name] = df.count()
        if stage_times is not None:
            # wall for THIS stage's own operators: lineage is truncated at
            # the previous boundary, so the checkpoint+count above runs
            # exactly this stage's plan (the scale-rehearsal instrument)
            stage_times[name] = round(_time.time() - t0, 2)
        return df

    # local checkpoints free through the shared helper: Dataset.unpersist()
    # is a no-op on them (RDD storage, not CacheManager — review finding)
    from xmlschemavalidator_spark.session import free_local_checkpoint as free

    if extract_main_content:
        # main-content extraction runs FIRST (published order: extract →
        # repair encoding → filter): replaces text with the boilerplate-
        # free rendering of the html column. Derived metadata must follow
        # the rewrite (the fix_encoding lesson: stale n_chars makes
        # validation silently drop every extracted doc).
        from xmlschemavalidator_spark.textops import main_content

        if "html" not in docs.columns:
            raise ValueError("--main-content requires an 'html' column")
        docs = docs.withColumn("text", main_content(F.col("html")))
        if "n_chars" in docs.columns:
            docs = docs.withColumn(
                "n_chars",
                F.length(F.coalesce("text", F.lit(""))).cast(
                    docs.schema["n_chars"].dataType
                ),
            )

    if fix_encoding:
        # encoding repair runs FIRST (published pipeline order: fix the
        # bytes before any filter judges them) — a narrow projection, so
        # it folds into the input materialization below. Derived metadata
        # must follow the rewrite: a stale n_chars fails the ruleset's
        # nchars_consistent rule and validation would drop EVERY repaired
        # doc (found by the /tmp drive — the first test of this flag was
        # vacuously green on an empty kept set)
        from xmlschemavalidator_spark.textops import fix_mojibake

        docs = docs.withColumn("text", fix_mojibake(F.col("text")))
        if "n_chars" in docs.columns:
            # cast to the EXISTING dtype: length() returns int, and an
            # int32 batch under a kept/ root whose other batches wrote
            # int64 makes spark.read.parquet(<root>) abort with a parquet
            # type mismatch (review finding, reproduced live)
            docs = docs.withColumn(
                "n_chars",
                F.length(F.coalesce("text", F.lit(""))).cast(
                    docs.schema["n_chars"].dataType
                ),
            )

    docs = stage("input", docs)  # downstream reuses the materialized input

    # 0a. URL layer (published order: URL filters run FIRST — C4/RefinedWeb
    # drop and dedup on URL before any text is judged; cheapest filters
    # earliest). All three stages are opt-in and require --url-col.
    if domain_cap_stage not in ("url_layer", "after_quality"):
        raise ValueError(f"domain_cap_stage={domain_cap_stage!r}")
    _apply_domain_cap = None
    if url_dedup_on or domain_cap_n or url_badwords or robots_df is not None:
        if not url_col:
            raise ValueError("URL stages require url_col (--url-col)")
        if url_col not in docs.columns:
            raise ValueError(f"url_col {url_col!r} not in input columns")
        from xmlschemavalidator_spark.weburl import (
            canonical_host,
            canonical_url,
            domain_cap,
            registered_domain,
            robots_filter,
            url_badword_filter,
            url_dedup,
        )

        def _apply_domain_cap(frame):
            # top-``cap`` docs per registered domain by n_chars (the
            # anti-dominance cap). Stage placement is a measured choice
            # (SCALE.md): the cap's two salted window sorts scan the
            # near-full corpus when run in the URL layer (11.9× at the
            # 2M→20M rehearsal); run AFTER the quality filters (the
            # default) the sorted pool is the quality survivors — same
            # per-domain top-N semantics, measured on the cleaner pool,
            # and cap slots are no longer consumed by docs quality was
            # about to drop. Use domain_cap_stage='url_layer' when the
            # published C4-order (cap before any text judgment) must be
            # reproduced exactly.
            return domain_cap(
                frame.withColumn(
                    "_domain",
                    registered_domain(
                        canonical_host(canonical_url(F.col(url_col)))
                    ),
                ),
                "_domain",
                cap=domain_cap_n,
                order_col="n_chars" if "n_chars" in frame.columns else None,
                id_col=id_col,
            ).drop("_domain")

        if robots_df is not None:
            # crawl politeness first: robots-disallowed URLs never enter
            # the corpus at all (hosts without a robots row keep all docs)
            docs = stage("robots", robots_filter(docs, url_col, robots_df))
        if url_badwords:
            docs = stage(
                "url_badwords", url_badword_filter(docs, url_col, url_badwords)
            )
        if url_dedup_on:
            if url_dedup_policy == "latest":
                # 'newest CAPTURE wins' — the multi-snapshot crawl shape;
                # warc_ts presence+type were validated up front
                from xmlschemavalidator_spark.weburl import snapshot_dedup

                deduped = snapshot_dedup(docs, url_col, "warc_ts", id_col)
            else:
                # 'longest TEXT wins' — when n_chars is absent derive it
                # from the text column, never from the URL (review finding:
                # the URL-length fallback let tracking-param junk pick
                # winners)
                deduped = (
                    url_dedup(docs, url_col, "n_chars", id_col)
                    if "n_chars" in docs.columns
                    else url_dedup(
                        docs.withColumn("_len", F.length("text")),
                        url_col,
                        "_len",
                        id_col,
                    ).drop("_len")
                )
            docs = stage("url_dedup", deduped.drop("canonical_url"))
        if domain_cap_n and domain_cap_stage == "url_layer":
            docs = stage("domain_cap", _apply_domain_cap(docs))

    # 0b. language production (VERDICT r3 item 3): every per-lang stage
    # downstream (CCNet terciles, stratified mix, token budget, packing)
    # keys on `lang`. lang_from:
    #   auto       — trust an existing input column; otherwise classifier
    #   input      — require the column (error early, not at stage 8)
    #   classifier — hashed char-trigram NB bootstrapped in-run from the
    #                stopword heuristic's confident calls (the trained
    #                default producer, replacing the raw heuristic)
    #   heuristic  — the stopword argmax (kept for comparison runs)
    if lang_from not in ("auto", "input", "classifier", "heuristic"):
        raise ValueError(f"lang_from={lang_from!r}")
    if lang_from == "auto":
        lang_from = "input" if "lang" in docs.columns else "classifier"
    if lang_from == "input":
        if "lang" not in docs.columns:
            raise ValueError("lang_from='input' but the input has no lang column")
    elif lang_from == "classifier":
        from xmlschemavalidator_spark.lang_model import (
            train_lang_model_weak,
            with_lang,
        )

        # fast (xxhash64) feature buckets: the pipeline's tags are
        # engine-internal, so the md5-portable oracle hash — the dominant
        # remaining cost of this stage at 20M (SCALE.md rehearsal #3) —
        # buys nothing here; the oracle-gated queries keep portable
        lang_nb = train_lang_model_weak(docs, id_col, hash_kind="fast")
        # checkpoint: prediction is an explode+join+agg pass — every
        # downstream stage must read its result, not re-run it
        docs = stage("lang_tagged", with_lang(docs, lang_nb, id_col))
    else:  # heuristic
        from xmlschemavalidator_spark.textops import lang_id

        docs = stage(
            "lang_tagged",
            docs.drop("lang").withColumn("lang", lang_id(F.col("text"))),
        )

    # 1. schema/constraint validation — violations kept as an audit table.
    # The validated stage is the verdict projection filtered on _doc_ok,
    # never a join of passing ids back onto the corpus: two rows sharing
    # an id, one valid and one not, would both pass that join.
    ruleset = documents_ruleset()
    res = validate(docs, ruleset, key=id_col)
    res.violations.write.mode("overwrite").parquet(f"{audit_dir}/violations")
    validated = stage("validated", split_valid(docs, ruleset, key=id_col)[0])
    cur = validated

    # 2. quality filter (gopher pass)
    cur = stage("quality", cur.where(gopher_pass(F.col("text"))))

    # 2b. optional learned quality filter (CCNet/FineWeb shape: heuristics
    # teach, the model generalizes): an NB scorer trained in-run on this
    # batch's gopher verdicts drops model-negative docs the heuristics
    # alone pass. Deterministic (integer micro-log-odds), no extra deps.
    if use_quality_model:
        from xmlschemavalidator_spark.quality_model import (
            score_quality,
            train_quality_model,
        )

        # teach on the VALIDATED corpus (the persisted stage-1 output),
        # not the raw input: schema-invalid rows must not shape the
        # classifier that filters valid docs (third-review finding)
        teacher = validated.withColumn("_y", gopher_pass(F.col("text")))
        model = train_quality_model(teacher, id_col, "_y")
        keep_ids = (
            score_quality(cur, model, id_col)
            .where(F.col("quality_pass"))
            .select(F.col("doc").alias(id_col))
        )
        cur = stage("quality_model", cur.join(keep_ids, id_col, "left_semi"))

    # 2c. optional CCNet-style perplexity terciles: a bigram LM trained
    # in-run on the validated corpus scores every doc; docs land in
    # head/middle/tail by avg log-prob PER LANGUAGE (CCNet buckets within
    # each language's distribution) and only the requested buckets
    # survive. Token-less docs have no LM fit and are dropped with the
    # tail, CCNet's own behavior for unbucketable docs.
    if ccnet_keep:
        from xmlschemavalidator_spark.quality_model import (
            perplexity_score,
            quality_buckets,
            train_bigram_lm,
        )

        names = {1: "head", 2: "middle", 3: "tail"}
        want = {b.strip() for b in ccnet_keep.split(",") if b.strip()}
        unknown = want - set(names.values())
        if unknown:
            raise ValueError(f"ccnet_keep: unknown bucket(s) {sorted(unknown)}")
        if not want:
            # e.g. ccnet_keep="," — silently keeping NOTHING would commit
            # an empty corpus with no error (review finding)
            raise ValueError("ccnet_keep: no buckets given")
        lm = train_bigram_lm(validated, id_col)
        scored = (
            perplexity_score(cur, lm, id_col)
            .where(F.col("avg_logprob").isNotNull())
            .withColumn(
                "_ppl_micros", (F.col("avg_logprob") * 1_000_000).cast("bigint")
            )
        )
        lang_of = cur.select(F.col(id_col).alias("doc"), F.col("lang").alias("_bg"))
        buckets = quality_buckets(
            scored.join(lang_of, "doc"),
            n_buckets=3,
            score_col="_ppl_micros",
            group_col="_bg",
        )
        keep_nums = [n for n, nm in names.items() if nm in want]
        keep_ids = (
            buckets.where(F.col("bucket").isin(keep_nums))
            .select(F.col("doc").alias(id_col))
        )
        cur = stage("ccnet_terciles", cur.join(keep_ids, id_col, "left_semi"))
        # the stage checkpoint above materialized everything downstream of
        # the LM — release its cached count tables now (review finding:
        # they leaked for the session's lifetime per --ccnet-keep batch)
        lm.bigram_counts.unpersist()
        lm.context_counts.unpersist()

    # 2d. domain cap, default placement (SCALE.md measurement — see
    # _apply_domain_cap for the semantics caveat vs the C4 url-layer
    # placement)
    if domain_cap_n and domain_cap_stage == "after_quality":
        cur = stage("domain_cap", _apply_domain_cap(cur))

    # 3. C4 line dedup (boilerplate removal) — may empty some docs; the
    # published order re-applies a length floor right after
    cur = drop_duplicate_lines(cur, id_col)
    cur = stage("line_dedup", cur.where(F.length(F.trim("text")) > 0))

    # 4. exact dedup, incremental vs the persistent store; the batch id
    # makes a RETRY of this run idempotent (it excludes its own earlier
    # fingerprint commit instead of dropping every doc — round-2 review).
    # --dedup-normalize keys the fingerprints on the aggressive C4-style
    # normalization (case/accents/punct/ws variants collapse); the store
    # space guard above keeps the key space consistent across batches.
    if dedup_normalize:
        from xmlschemavalidator_spark.textops import normalize_for_dedup

        cur = stage(
            "exact_dedup",
            incremental_exact_dedup(
                cur.withColumn(
                    "_dedup_text", normalize_for_dedup(F.col("text"))
                ),
                id_col,
                store,
                text_col="_dedup_text",
                batch_id=batch_id,
            ).drop("_dedup_text"),
        )
    else:
        cur = stage(
            "exact_dedup",
            incremental_exact_dedup(cur, id_col, store, batch_id=batch_id),
        )

    # 5. near-dup drop (MinHash-LSH candidates -> CC survivors). With a
    # near_store the stage is incremental: docs whose band buckets collide
    # with an EARLIER batch's committed buckets drop first (hot buckets
    # refused per the combined-population cap), then the usual
    # within-batch pairing runs — one banding pass feeds both.
    if near_store:
        cur = stage(
            "near_dedup",
            incremental_near_dedup(cur, id_col, near_store, batch_id=batch_id),
        )
    else:
        pairs = minhash_lsh_candidates(cur, id_col)
        if keep_policy == "longest":
            # keep the BEST copy of each near-dup cluster (longest text),
            # not an arbitrary smallest-id one — the published keep policy
            from xmlschemavalidator_spark.dedup import (
                near_duplicate_clusters,
                select_canonical,
            )

            clusters = near_duplicate_clusters(pairs)
            scored = cur.select(
                F.col(id_col).alias("doc"),
                F.length(F.coalesce(F.col("text"), F.lit(""))).alias("score"),
            )
            losers = (
                select_canonical(clusters, scored)
                .where(~F.col("keep"))
                .select(F.col("doc").alias(id_col))
            )
            cur = stage("near_dedup", cur.join(losers, id_col, "left_anti"))
        else:
            cur = stage("near_dedup", drop_near_duplicates(cur, id_col, pairs))

    # 6. decontamination vs the benchmark corpus
    if benchmark is not None:
        cur = stage("decontaminated", drop_contaminated(cur, id_col, benchmark))

    # 7. stratified mixing
    if mix:
        cur = stage(
            "mixed",
            stratified_sample(cur, id_col, "lang", mix, default_fraction=0.0),
        )

    # 8. per-language token budget (largest docs first)
    if budget_per_lang > 0:
        with_cost = cur.withColumn("_cost", F.length("text"))
        cur = stage(
            "budgeted",
            token_budget_select(
                with_cost, id_col, "lang", "_cost", budget_per_lang
            ).drop("_cost"),
        )

    # 8-alt. UniMax budget (Chung et al. ICLR'23): one TOTAL char budget
    # waterfilled across languages with an epoch cap — small langs repeat
    # up to max_epochs, big langs split the remainder equally. `kept`
    # stays one row per surviving doc; the (doc, epoch) training-order
    # rows land in <output>/epochs/batch_id=<id>/ after the kept commit
    # (epoch replication is a training artifact, like sequences/shards —
    # it must never enter the fingerprint store).
    unimax_rows = None
    if unimax_budget > 0:
        from xmlschemavalidator_spark.sampling import unimax_apply

        with_cost = cur.withColumn("_cost", F.length("text"))
        # checkpoint ONLY the three columns read afterwards — the full
        # frame would materialize every document body once per epoch
        # (review finding: ~2x the corpus into block storage for nothing)
        unimax_rows = unimax_apply(
            with_cost, id_col, "lang", "_cost", unimax_budget,
            unimax_max_epochs,
        ).select(id_col, "lang", "epoch").localCheckpoint(eager=True)
        persisted.append(unimax_rows)
        cur = stage(
            "budgeted",
            cur.join(unimax_rows.select(id_col).distinct(), id_col, "left_semi"),
        )

    # 8-alt-2. Temperature mix (XLM-R alpha-scaling): smooth n^alpha
    # reweighting instead of UniMax's hard epoch caps. `kept` stays one
    # row per surviving doc; the per-doc n_copies (>= 1, upsampled
    # low-resource langs carry several) land in
    # <output>/mix_copies/batch_id=<id>/ after the kept commit — copy
    # multiplicity is a training artifact and must never enter the
    # fingerprint store (the unimax-epochs rule).
    temp_rows = None
    if temperature_budget > 0:
        from xmlschemavalidator_spark.sampling import temperature_mix

        temp_rows = (
            temperature_mix(
                cur, id_col, "lang", temperature_budget, alpha=temperature_alpha
            )
            .select(id_col, "lang", "n_copies")
            .localCheckpoint(eager=True)
        )
        persisted.append(temp_rows)
        cur = stage(
            "budgeted", cur.join(temp_rows.select(id_col), id_col, "left_semi")
        )

    cur.write.mode("overwrite").parquet(kept_path)
    kept_back = spark.read.parquet(kept_path)
    if dedup_normalize:  # commit in the SAME fingerprint space as stage 4
        from xmlschemavalidator_spark.textops import normalize_for_dedup

        kept_back = kept_back.withColumn(
            "_dedup_text", normalize_for_dedup(F.col("text"))
        )
    commit_seen_fingerprints(  # AFTER the kept output is durable
        kept_back,
        store,
        text_col="_dedup_text" if dedup_normalize else "text",
        batch_id=batch_id,
    )
    if near_store:  # same output-first ordering for the bucket store
        commit_seen_buckets(
            spark.read.parquet(kept_path), id_col, near_store, batch_id=batch_id
        )
    audit["kept"] = audit[list(audit)[-1]]
    if temp_rows is not None:
        temp_rows.write.mode("overwrite").parquet(
            f"{output}/mix_copies/batch_id={batch_id}"
        )
        # total copies ~= the requested budget (recorded AFTER kept: copy
        # multiplicity sits outside the monotone stage chain, like epochs)
        audit["mix_total_copies"] = int(
            temp_rows.agg(F.sum("n_copies")).first()[0] or 0
        )
    if unimax_rows is not None:
        unimax_rows.select(id_col, "lang", "epoch").write.mode(
            "overwrite"
        ).parquet(f"{output}/epochs/batch_id={batch_id}")
        # recorded AFTER kept (epoch rows legitimately exceed doc counts —
        # they are repetitions, not survivors, so they sit outside the
        # monotone stage chain)
        audit["unimax_epoch_rows"] = unimax_rows.count()
    # the audit record and caches are settled BEFORE the optional packing
    # stage (review finding: a stage-9 failure used to lose stages.json
    # and leak caches for an already-committed batch); stage 9 re-writes
    # the file with its own count on success
    for p in persisted:
        free(p)
    persisted = []
    write_audit()

    # an empty batch (every doc filtered) has nothing to pack or shard —
    # and writing an EMPTY DataFrame produces a part-less parquet dir
    # whose read-back fails with UNABLE_TO_INFER_SCHEMA (hit live in the
    # scale rehearsal smoke), so the artifact stages must not run at all
    def _delete_stale_artifact(subdir: str) -> None:
        # a skipped artifact stage must also REMOVE a prior attempt's dir
        # for the same batch_id — otherwise a retry that now keeps 0 docs
        # leaves run 1's sequences/shards on disk while stages.json says 0
        # (review finding: the mode('overwrite') that normally clears them
        # never executes on the skip path)
        try:
            jvm = spark._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(
                f"{output}/{subdir}/batch_id={batch_id}"
            )
            fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
            if fs.exists(hpath):
                fs.delete(hpath, True)
        except Exception:
            pass  # cleanup must not fail an otherwise-committed batch

    if audit["kept"] == 0 and (pack_seq_len > 0 or shuffle_shards > 0):
        if pack_seq_len > 0:
            audit["sequences"] = 0
            _delete_stale_artifact("sequences")
        if shuffle_shards > 0:
            audit["shard_rows"] = 0
            _delete_stale_artifact("shards")
        pack_seq_len = 0
        shuffle_shards = 0
        write_audit()

    # 9. optional training artifact: chunk + pack the kept corpus into
    # fixed-length sequences, grouped per language so packing parallelizes
    # and sequences never mix languages (the pack_sequences scale path)
    if pack_seq_len > 0:
        from xmlschemavalidator_spark.textops import chunk_documents, pack_sequences

        kept_docs = spark.read.parquet(kept_path)
        # overlap=0: overlap is a retrieval-chunking feature — a packed
        # PRETRAINING artifact must carry each token exactly once (review
        # finding: the default overlap=16 duplicated ~12.5% of every doc)
        chunks = chunk_documents(kept_docs, id_col, overlap=0).join(
            kept_docs.select(F.col(id_col).alias("doc"), F.col("lang").alias("_g")),
            "doc",
        )
        seqs = pack_sequences(chunks, pack_seq_len, group_col="_g")
        seqs = seqs.withColumnRenamed("_g", "lang")
        seqs.write.mode("overwrite").parquet(f"{output}/sequences/batch_id={batch_id}")
        audit["sequences"] = spark.read.parquet(
            f"{output}/sequences/batch_id={batch_id}"
        ).count()
        write_audit()

    # 10. optional training-order artifact: a deterministic global shuffle
    # of the batch's training units (packed sequences if stage 9 ran, else
    # kept docs) into <output>/shards/batch_id=<id>/shard=N/, each shard
    # file sorted by pos — a reader consuming shards in pos order sees the
    # salted-hash order, reproducible across retries and cluster sizes.
    if shuffle_shards > 0 and pack_seq_len > 0 and audit.get("sequences") == 0:
        # same empty-write trap one level down: zero sequences means the
        # shards stage would read back a part-less parquet dir
        audit["shard_rows"] = 0
        _delete_stale_artifact("shards")
        shuffle_shards = 0
        write_audit()
    if shuffle_shards > 0:
        from xmlschemavalidator_spark.sampling import deterministic_shuffle

        if pack_seq_len > 0:
            src = spark.read.parquet(f"{output}/sequences/batch_id={batch_id}")
            # (lang, seq_id) is the sequence's stable identity — seq_ids
            # restart per packing group
            keyed = src.withColumn(
                "_sid", F.concat_ws(":", "lang", F.col("seq_id").cast("string"))
            )
            shuffled = deterministic_shuffle(
                keyed, "_sid", n_shards=shuffle_shards,
                salt=f"shards:{batch_id}",
            ).drop("_sid")
        else:
            shuffled = deterministic_shuffle(
                spark.read.parquet(kept_path), id_col,
                n_shards=shuffle_shards, salt=f"shards:{batch_id}",
            )
        (
            shuffled.repartition(F.col("shard"))
            .sortWithinPartitions("shard", "pos")
            .write.partitionBy("shard")
            .mode("overwrite")
            .parquet(f"{output}/shards/batch_id={batch_id}")
        )
        audit["shard_rows"] = spark.read.parquet(
            f"{output}/shards/batch_id={batch_id}"
        ).count()
        write_audit()

    # 11. optional serving artifact: fold this batch's kept docs into the
    # persistent inverted text index (textindex.py) — first batch builds,
    # later batches append their own _batch= dirs, a deliberate same-id
    # retry overwrites exactly its own dirs (on_existing='overwrite', the
    # kept/ semantics). Runs LAST: the index serves the committed corpus,
    # so it must only ever see post-commit kept docs.
    if index_dir:
        if audit["kept"] == 0:
            audit["index_docs"] = 0
            write_audit()
        else:
            from xmlschemavalidator_spark.textindex import (
                _CORPUS_SCHEMA,
                append_text_index,
                build_text_index,
            )

            kept_docs = spark.read.parquet(kept_path)
            try:
                spark.read.schema(_CORPUS_SCHEMA).parquet(
                    f"{index_dir}/corpus"
                ).first()
                index_exists = True
            except Exception as e:  # noqa: BLE001 — PATH_NOT_FOUND only
                if (
                    "PATH_NOT_FOUND" not in str(e)
                    and "Path does not exist" not in str(e)
                ):
                    raise
                index_exists = False
            if index_exists:
                append_text_index(
                    kept_docs, id_col, index_dir, batch_id=batch_id,
                    on_existing="overwrite",
                )
            else:
                build_text_index(
                    kept_docs, id_col, index_dir,
                    positions=index_positions, batch_id=batch_id,
                )
            audit["index_docs"] = int(
                spark.read.schema(_CORPUS_SCHEMA)
                .parquet(f"{index_dir}/corpus")
                .where(F.col("_batch") == str(batch_id))
                .first()["n_docs"]
            )
            write_audit()
    return audit


def open_spark_safe(path: str):
    """Local-filesystem JSON sink for the tiny audit dict (the driver runs
    where --output is mounted in this deployment; swap for a DataFrame
    write on object stores)."""
    import os

    os.makedirs(os.path.dirname(path), exist_ok=True)
    return open(path, "w")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", default=None)
    p.add_argument("--output", required=True)
    p.add_argument("--benchmark", default=None)
    p.add_argument("--mix", default=None, help='JSON dict, e.g. {"en":1.0,"de":0.3}')
    p.add_argument("--budget-per-lang", type=int, default=0)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--batch-id", required=True)
    p.add_argument("--quality-model", action="store_true",
                   help="train an NB quality scorer on this batch's gopher "
                        "verdicts and drop model-negative docs")
    p.add_argument("--pack-seq-len", type=int, default=0,
                   help="emit packed training sequences of this many "
                        "tokens under <output>/sequences/ (0 = off)")
    p.add_argument(
        "--store",
        default=None,
        help="fingerprint store path shared across batches "
        "(default: <output>/fingerprints)",
    )
    p.add_argument(
        "--near-store",
        default=None,
        help="persistent LSH bucket store path: makes the near-dup stage "
        "incremental across batches (off by default — within-batch only)",
    )
    p.add_argument(
        "--keep-policy",
        choices=["first", "longest"],
        default="first",
        help="near-dup survivor policy: 'first' (smallest id) or 'longest' "
        "(longest text per cluster; within-batch mode only)",
    )
    p.add_argument(
        "--fix-encoding",
        action="store_true",
        help="repair UTF-8-as-cp1252 mojibake before any filtering",
    )
    p.add_argument(
        "--ccnet-keep",
        default=None,
        help="CCNet perplexity terciles: comma list of buckets to keep "
        "from {head,middle,tail}, bucketed per language by an in-run "
        "bigram LM (e.g. 'head,middle'; default off)",
    )
    p.add_argument(
        "--main-content",
        action="store_true",
        help="extract boilerplate-free main content from the 'html' column "
        "into text before any other stage (per-block link-density + length "
        "classification)",
    )
    p.add_argument(
        "--lang-from",
        choices=["auto", "input", "classifier", "heuristic"],
        default="auto",
        help="lang producer for per-lang stages: trust the input column, "
        "train an in-run char-trigram NB classifier (the default when the "
        "input has no lang column), or the stopword heuristic",
    )
    p.add_argument(
        "--shuffle-shards",
        type=int,
        default=0,
        help="write a deterministic training-order shuffle of the batch's "
        "training units into <output>/shards/ with this many shards (0 = off)",
    )
    p.add_argument(
        "--url-col",
        default=None,
        help="column holding the document URL; required by the URL stages",
    )
    p.add_argument(
        "--url-dedup",
        action="store_true",
        help="keep one doc per canonical URL (longest text, then smallest id)",
    )
    p.add_argument(
        "--dedup-normalize",
        action="store_true",
        help="key exact dedup on the aggressive C4-style normalization "
        "(lowercase/accents/punct/ws) — a property of the fingerprint "
        "store, enforced consistent across batches",
    )
    p.add_argument(
        "--url-dedup-policy",
        choices=["longest", "latest"],
        default="longest",
        help="URL-dedup winner: longest text (default) or latest capture "
        "(requires a warc_ts column — the multi-snapshot crawl shape)",
    )
    p.add_argument(
        "--domain-cap",
        type=int,
        default=0,
        help="keep at most N docs per registrable domain (0 = off)",
    )
    p.add_argument(
        "--domain-cap-stage",
        choices=["after_quality", "url_layer"],
        default="after_quality",
        help="where the cap runs: after the quality filters (default — "
        "the cap's window sorts scan the filtered pool, and cap slots "
        "aren't burned on docs quality drops anyway; this departs from "
        "C4's published order and keeps a different document set) or in "
        "the URL layer (url_layer reproduces C4's published order: cap "
        "before any text judgment)",
    )
    p.add_argument(
        "--url-badwords",
        default=None,
        help="comma list of badwords; docs whose URL contains any are dropped",
    )
    p.add_argument(
        "--robots",
        default=None,
        help="parquet of (host, robots_txt); docs whose URL the host's "
        "robots.txt disallows for User-agent: * are dropped (requires "
        "--url-col)",
    )
    p.add_argument(
        "--unimax-budget",
        type=int,
        default=0,
        help="UniMax total char budget waterfilled across languages "
        "(alternative to --budget-per-lang); (doc, epoch) rows land in "
        "<output>/epochs/batch_id=<id>/",
    )
    p.add_argument(
        "--unimax-max-epochs",
        type=int,
        default=2,
        help="UniMax per-language epoch cap (default 2)",
    )
    p.add_argument(
        "--temperature-mix",
        type=int,
        default=0,
        help="temperature-sampled doc budget (XLM-R alpha-scaling; "
        "alternative to --budget-per-lang/--unimax-budget); per-doc "
        "n_copies land in <output>/mix_copies/batch_id=<id>/",
    )
    p.add_argument(
        "--temperature-alpha",
        type=float,
        default=0.3,
        help="temperature exponent (1=proportional, 0=uniform; default "
        "0.3, the XLM-R value)",
    )
    p.add_argument(
        "--index-dir",
        default=None,
        help="persistent inverted text index: first batch builds, later "
        "batches append their own _batch= dirs (textindex.py)",
    )
    p.add_argument(
        "--index-positions",
        action="store_true",
        help="store positional postings on the FIRST build (enables "
        "phrase queries; appended batches inherit the layout)",
    )
    args = p.parse_args(argv)

    spark = (
        SparkSession.builder.appName("corpus-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .getOrCreate()
    )
    docs = spark.read.parquet(args.input or "/root/testdata/sf0.001/documents.parquet")
    bench = spark.read.parquet(args.benchmark) if args.benchmark else None
    mix = json.loads(args.mix) if args.mix else None
    audit = run_pipeline(
        spark, docs, args.output, bench, mix, args.budget_per_lang,
        args.id_col, args.batch_id, store=args.store,
        near_store=args.near_store, pack_seq_len=args.pack_seq_len,
        use_quality_model=args.quality_model, keep_policy=args.keep_policy,
        shuffle_shards=args.shuffle_shards, ccnet_keep=args.ccnet_keep,
        fix_encoding=args.fix_encoding, lang_from=args.lang_from,
        dedup_normalize=args.dedup_normalize,
        extract_main_content=args.main_content,
        url_col=args.url_col, url_dedup_on=args.url_dedup,
        url_dedup_policy=args.url_dedup_policy,
        domain_cap_n=args.domain_cap,
        domain_cap_stage=args.domain_cap_stage,
        robots_df=(spark.read.parquet(args.robots) if args.robots else None),
        unimax_budget=args.unimax_budget,
        unimax_max_epochs=args.unimax_max_epochs,
        temperature_budget=args.temperature_mix,
        temperature_alpha=args.temperature_alpha,
        index_dir=args.index_dir,
        index_positions=args.index_positions,
        url_badwords=(
            [w for w in args.url_badwords.split(",") if w]
            if args.url_badwords
            else None
        ),
    )
    print(json.dumps(audit))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

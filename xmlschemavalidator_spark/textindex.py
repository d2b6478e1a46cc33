"""Persisted inverted text index + BM25 query — the retrieval layer a
validated web corpus serves from (reference scope: the dataset-level
ops the reference's declarative checks imply once the corpus is
query-served — see SURVEY.md §2.7/§2.10).

Layout under ``<path>/`` (every top-level dir is batch-structured —
``_batch=<id>/`` — so :func:`append_text_index` folds a new crawl batch
in without touching committed batches, and a failed batch retry
overwrites exactly its own dirs):

* ``postings/_batch=<id>/_bucket=<b>/`` — ``(term, doc, dl, tf
  [, positions])``. dl (doc length in tokens) is DENORMALIZED into
  every posting row (classic search-index design) so query-time scoring
  needs NO join against a per-doc length table — at 10^12 docs that
  join would shuffle the full doc dimension for a 3-term query.
* ``stats/_batch=<id>/_bucket=<b>/`` — ``(term, df)`` document
  frequencies, bucket-partitioned like the postings so a query reads
  only its own buckets; readers SUM df across batches (new docs only —
  re-crawls collapse upstream via snapshot_dedup).
* ``corpus/_batch=<id>/`` — one row ``(n_docs, total_tokens,
  n_buckets)`` per batch. Writing ``n_buckets`` into the index makes
  the term→bucket hash self-describing: a reader can never prune with
  a different modulus than the build used.

Buckets are ``pmod(xxhash64(term), n_buckets)`` — stable across Spark
sessions, so an index written once serves any later reader. A query for
q terms lists at most q of the n_buckets partition directories
(``_bucket isin`` lands in PartitionFilters — pruning happens at file
listing, before any IO) and pushes ``term IN (...)`` down to parquet
row groups (postings are sorted by term within each bucket file, so
min/max statistics make that pushdown selective).

Scoring is the EXACT integer BM25 of :func:`textops.bm25_topk` (same
rational k1/b multiplied through, same floor'd micro idf, same DECIMAL
``div``), so an index-served top-k is bit-identical to the from-scratch
corpus scan — the driver query's oracle replays it from the raw
documents table in DuckDB via :func:`textops.bm25_topk_sql`. One
documented edge: zero-token docs carry no postings, so they don't count
toward N/S here (matching the DuckDB replay; ``bm25_topk``'s in-memory
stats pass counts them — indistinguishable on any corpus without empty
documents, and empty docs score 0 under BM25 regardless).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xmlschemavalidator_spark.textops import tokens

__all__ = [
    "build_text_index",
    "append_text_index",
    "bm25_index_topk",
    "phrase_index_topk",
    "phrase_topk_sql",
]


_BATCH_ID_OK = r"^[A-Za-z0-9_\-]+$"

# explicit corpus schema: the _batch partition column is declared STRING —
# type inference would read _batch=00000 as int 0 and break the
# committed-batch identity check (dir names ARE batch identity)
_CORPUS_SCHEMA = "n_docs bigint, total_tokens bigint, n_buckets int, _batch string"


def build_text_index(
    df: DataFrame,
    id_col: str,
    path: str,
    text_col: str = "text",
    n_buckets: int = 64,
    positions: bool = False,
    batch_id: str = "00000",
) -> None:
    """Write the inverted index for ``df`` under ``path``.

    Scale shape: ONE corpus scan — dl rides the projection ahead of the
    explode (size() of the let-bound token array), so the (term, doc)
    groupBy is the only corpus-wide shuffle. The stats and corpus aggs
    then read the already-written postings parquet (tiny next to the
    source text). The ``_bucket`` column makes the write a partitioned
    layout, and ``sortWithinPartitions("term")`` clusters each file by
    term so query-time ``term IN`` pushdown prunes row groups.

    ``positions=True`` adds a sorted ``positions array<int>`` column to
    every posting (token offsets within the doc) — the classic
    positional-postings layout :func:`phrase_index_topk` needs. BM25
    serving is unaffected either way (parquet column pruning skips the
    array), so one positional index serves both query kinds.

    The index is batch-structured from day one (``_batch=<id>/``
    directories, the dedup-store precedent): later document batches are
    folded in with :func:`append_text_index` — no rebuild — and readers
    sum the per-batch stats/corpus rows (cost O(query terms), never
    O(index)). At 10^12 docs a daily crawl batch touches only its own
    directories; re-running a failed batch overwrites exactly that
    batch's dirs (output-first idempotence)."""
    _write_index_batch(
        df, id_col, path, text_col, n_buckets, positions, batch_id
    )


def append_text_index(
    df: DataFrame,
    id_col: str,
    path: str,
    batch_id: str,
    text_col: str = "text",
    on_existing: str = "error",
) -> None:
    """Fold a NEW batch of documents into an existing index at ``path``.

    ``n_buckets`` and the positional layout are read from the index
    itself (never restated by the caller — the probe hash cannot
    drift). Docs are assumed new: an update/re-crawl stream must be
    collapsed upstream (snapshot_dedup) before indexing, else df/N/S
    double-count. A ``batch_id`` already present raises by default —
    retrying a FAILED batch is always safe (the corpus row is written
    LAST, so an uncommitted batch's dirs are overwritten wholesale);
    re-running a COMMITTED one is refused rather than silently
    double-counted, unless ``on_existing="overwrite"`` (the pipeline's
    deliberate same-batch-id retry, which replaces exactly that batch's
    dirs)."""
    import re

    if not re.match(_BATCH_ID_OK, str(batch_id)):
        raise ValueError(f"append_text_index: bad batch_id {batch_id!r}")
    if on_existing not in ("error", "overwrite"):
        raise ValueError(f"append_text_index: on_existing={on_existing!r}")
    spark = df.sparkSession
    meta = spark.read.schema(_CORPUS_SCHEMA).parquet(f"{path}/corpus")
    n_buckets_vals = [
        int(r["n_buckets"]) for r in meta.select("n_buckets").distinct().collect()
    ]
    if len(n_buckets_vals) != 1:
        raise ValueError(
            f"append_text_index: inconsistent n_buckets {n_buckets_vals}"
        )
    existing = {r["_batch"] for r in meta.select("_batch").distinct().collect()}
    if str(batch_id) in existing and on_existing == "error":
        raise ValueError(
            f"append_text_index: batch {batch_id!r} already committed"
        )
    positions = "positions" in spark.read.parquet(f"{path}/postings").columns
    _write_index_batch(
        df, id_col, path, text_col, n_buckets_vals[0], positions, batch_id
    )


def _posting_parts(df: DataFrame, spark: SparkSession) -> int:
    """Shuffle-partition count for the posting build, scaled to the
    SOURCE bytes (metadata-only, the dedup._spread estimate): the
    exploded (doc, pos, term) stream is ~10× the source text, and a
    fixed reducer count turns the (term, doc) groupBy into a spill
    machine at 10× the corpus (measured 22-28× on the 2M→20M rehearsal
    with 32 reducers carrying ~2e9 rows). One partition per ~32 MB of
    source text, floored at the cluster parallelism, capped at 4096
    (beyond that, size spark.sql.shuffle.partitions for the cluster)."""
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        return target
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    total = 0
    for f in files:
        try:
            path = jvm.org.apache.hadoop.fs.Path(f)
            total += path.getFileSystem(hconf).getFileStatus(path).getLen()
        except Exception:
            return target
    return max(target, min(4096, total // (32 << 20)))


def _write_index_batch(
    df: DataFrame,
    id_col: str,
    path: str,
    text_col: str,
    n_buckets: int,
    positions: bool,
    batch_id: str,
) -> None:
    import re

    if not re.match(_BATCH_ID_OK, str(batch_id)):
        raise ValueError(f"text index: bad batch_id {batch_id!r}")
    spark = df.sparkSession
    n_parts = _posting_parts(df, spark)
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.filter(
            tokens(F.lower(F.col(text_col))), lambda t: F.length(t) > 0
        ).alias("_toks"),
    )
    exploded = toks.select(
        "doc",
        F.size("_toks").cast("bigint").alias("dl"),
        F.posexplode("_toks").alias("pos", "term"),
    )
    pos_aggs = (
        [F.sort_array(F.collect_list("pos")).alias("positions")]
        if positions
        else []
    )
    postings = exploded.groupBy("term", "doc", "dl").agg(
        F.count(F.lit(1)).alias("tf"), *pos_aggs
    )
    bucketed = postings.withColumn(
        "_bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets))
    )
    post_dir = f"{path}/postings/_batch={batch_id}"
    # Two scale rules learned on the 2M→20M rehearsal (22-28× blowups):
    # 1. the (term, doc) groupBy must get reducers scaled to the SOURCE
    #    size, not the session default — a fixed 32 reducers over the
    #    ~10×-source exploded stream is an external-sort spill machine.
    #    Scoped via the shuffle-partitions conf (NOT an explicit
    #    repartition before the groupBy, which would satisfy the agg's
    #    distribution and silently drop the map-side partial combine).
    # 2. the write RANGE-repartitions on (_bucket, term), never a hash
    #    repartition on _bucket alone: bucket-only hashing has
    #    ≤ n_buckets distinct keys, so at most n_buckets tasks carry the
    #    whole posting sort regardless of cluster size. Ranges give each
    #    task a contiguous term-clustered slice (near-free sort) and
    #    partitionBy still lays files out per bucket.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
        bucketed.repartitionByRange(
            int(n_parts), "_bucket", "term"
        ).sortWithinPartitions("term").write.mode("overwrite").partitionBy(
            "_bucket"
        ).parquet(post_dir)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    # read back the WRITTEN postings (tiny next to the source text) so the
    # stats/corpus aggs never re-run the corpus-wide explode; the explicit
    # schema keeps an all-empty batch readable (part-less dir)
    written = spark.read.schema(bucketed.schema).parquet(post_dir)
    stats = written.groupBy("_bucket", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    stats.write.mode("overwrite").partitionBy("_bucket").parquet(
        f"{path}/stats/_batch={batch_id}"
    )
    corpus = (
        written.groupBy("doc")
        .agg(F.first("dl").alias("dl"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias(
                "total_tokens"
            ),
            F.lit(n_buckets).cast("int").alias("n_buckets"),
        )
    )
    corpus.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/corpus/_batch={batch_id}"
    )


def _read_corpus(spark: SparkSession, path: str) -> tuple[int, int, int]:
    """(n_docs, total_tokens, n_buckets) summed across committed batches;
    refuses an index whose batches disagree on the bucket modulus."""
    rows = spark.read.schema(_CORPUS_SCHEMA).parquet(f"{path}/corpus").collect()
    moduli = {int(r["n_buckets"]) for r in rows}
    if len(moduli) != 1:
        raise ValueError(f"text index: inconsistent n_buckets {sorted(moduli)}")
    return (
        sum(int(r["n_docs"]) for r in rows),
        sum(int(r["total_tokens"]) for r in rows),
        moduli.pop(),
    )


def _term_buckets(
    spark: SparkSession, terms: list[str], n_buckets: int
) -> dict[str, int]:
    """Bucket id per query term — computed BY SPARK (one local-only job
    over a literal frame) so the probe can never drift from the
    xxhash64 the index was written with (no Python reimplementation of
    the JVM hash to keep in sync)."""
    tdf = spark.createDataFrame([(t,) for t in terms], "term string")
    rows = tdf.select(
        "term", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).alias("b")
    ).collect()
    return {r["term"]: int(r["b"]) for r in rows}


def bm25_index_topk(
    spark: SparkSession,
    path: str,
    query_terms: list[str],
    k: int = 10,
    k1_20: int = 24,
    b_20: int = 15,
) -> DataFrame:
    """Top-``k`` docs for ``query_terms`` served FROM the index —
    ``(doc, n_hits, score_micro)`` ranked score desc then doc asc,
    bit-identical to :func:`textops.bm25_topk` over the source corpus
    (same integer num/den, DECIMAL(38,0) ``div``, floor'd micro idf;
    see textops.py:1346 for the arithmetic derivation).

    Scale shape: the corpus row and the ≤|query| stats rows are the only
    driver collects (both O(query), never O(corpus)). The postings scan
    lists only the probed ``_bucket=`` directories (PartitionFilters)
    and pushes ``term IN`` to row groups; scoring is one partial-agg
    groupBy over the posting rows of the query terms (inherently tiny
    next to the corpus), then TakeOrderedAndProject — no global sort."""
    terms = sorted({t.lower() for t in query_terms})
    if not terms:
        raise ValueError("bm25_index_topk: empty query")
    n, s, n_buckets = _read_corpus(spark, path)
    buckets = sorted(set(_term_buckets(spark, terms, n_buckets).values()))
    stats = (
        spark.read.parquet(f"{path}/stats")
        .where(F.col("_bucket").isin(buckets) & F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))  # one df partial per batch → summed
        .collect()
    )
    dfreq = {r["term"]: int(r["df"]) for r in stats}
    idf_micro = {
        t: math.floor(
            math.log((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
            * 1_000_000.0
        )
        for t in terms
        if t in dfreq
    }
    post = spark.read.parquet(f"{path}/postings")
    if not idf_micro:
        # no query term exists in the corpus → empty result with the
        # index's own doc type (id column types vary by source table)
        return post.select(
            "doc",
            F.lit(0).cast("bigint").alias("n_hits"),
            F.lit(0).cast("bigint").alias("score_micro"),
        ).limit(0)
    hit_terms = sorted(idf_micro)
    post = post.where(
        F.col("_bucket").isin(buckets) & F.col("term").isin(hit_terms)
    )
    idf_col = F.lit(None).cast("bigint")
    for t in hit_terms:
        idf_col = F.when(F.col("term") == F.lit(t), F.lit(idf_micro[t])).otherwise(
            idf_col
        )
    d38 = "DECIMAL(38,0)"
    num = f"(CAST({20 * (k1_20 + 20) * s} AS {d38}) * CAST(tf AS {d38}))"
    den = (
        f"(CAST({400 * s} AS {d38}) * CAST(tf AS {d38})"
        f" + CAST({k1_20 * (20 - b_20) * s} AS {d38})"
        f" + CAST({k1_20 * b_20 * n} AS {d38}) * CAST(dl AS {d38}))"
    )
    scored = (
        post.withColumn("_idf", idf_col)
        .select(
            "doc",
            F.expr(f"(CAST(_idf AS {d38}) * {num}) div {den}").alias("_ts"),
        )
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.sum("_ts").cast("bigint").alias("score_micro"),
        )
    )
    return scored.orderBy(
        F.col("score_micro").desc(), F.col("doc").asc()
    ).limit(k)


def phrase_index_topk(
    spark: SparkSession,
    path: str,
    phrase_terms: list[str],
    k: int = 10,
) -> DataFrame:
    """Docs containing the exact consecutive ``phrase_terms`` sequence,
    served from a positional index — ``(doc, n_occurrences)`` ranked
    occurrences desc then doc asc.

    Match logic (anchor/offset coverage): token position p of the
    phrase's i-th term votes for anchor ``p - i``; an anchor covered by
    ALL phrase offsets is one occurrence. Handles repeated terms in the
    phrase ("hash hash") for free — each offset must be covered
    independently at its own position.

    Scale shape: reads only the probed ``_bucket=`` directories of the
    phrase's terms (PartitionFilters + term IN pushdown). The anchor
    groupBy runs over the exploded positions of the QUERY terms only —
    bounded by those terms' corpus frequency, never the corpus — with
    map-side partial aggregation; top-k is TakeOrderedAndProject."""
    terms = [t.lower() for t in phrase_terms]
    if not terms:
        raise ValueError("phrase_index_topk: empty phrase")
    _, _, n_buckets = _read_corpus(spark, path)
    uniq = sorted(set(terms))
    buckets = sorted(set(_term_buckets(spark, uniq, n_buckets).values()))
    post = spark.read.parquet(f"{path}/postings")
    if "positions" not in post.columns:
        raise ValueError(
            "phrase_index_topk: index was built without positions=True"
        )
    post = post.where(
        F.col("_bucket").isin(buckets) & F.col("term").isin(uniq)
    ).select("doc", "term", "positions")
    offsets = spark.createDataFrame(
        [(i, t) for i, t in enumerate(terms)], "i int, term string"
    )
    hits = (
        post.join(F.broadcast(offsets), "term")
        .select("doc", "i", F.explode("positions").alias("pos"))
        .select("doc", "i", (F.col("pos") - F.col("i")).alias("anchor"))
        .where(F.col("anchor") >= 0)
    )
    occ = (
        hits.groupBy("doc", "anchor")
        .agg(F.countDistinct("i").alias("_nofs"))
        .where(F.col("_nofs") == len(terms))
    )
    out = occ.groupBy("doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences")
    )
    return out.orderBy(
        F.col("n_occurrences").desc(), F.col("doc").asc()
    ).limit(k)


def phrase_topk_sql(
    phrase_terms: list[str],
    k: int = 10,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of :func:`phrase_index_topk` from the raw corpus
    table — same anchor/offset coverage logic over lockstep
    unnest/generate_subscripts positions (1-based there vs posexplode's
    0-based here; anchors are engine-internal so the shift cancels)."""
    terms = [t.lower() for t in phrase_terms]
    ws = "[ \\t\\n\\x0b\\f\\r]+"
    vals = ", ".join(
        f"({i}, '" + t.replace("'", "''") + "')" for i, t in enumerate(terms)
    )
    return f"""WITH arr AS (
  SELECT {id_col} AS doc,
         list_filter(regexp_split_to_array(trim(coalesce(text, '')), '{ws}'),
                     x -> x <> '') AS a
  FROM {table}
), toks AS (
  SELECT doc, lower(unnest(a)) AS term, generate_subscripts(a, 1) AS pos
  FROM arr
), hits AS (
  SELECT doc, o.i, pos - o.i AS anchor
  FROM toks JOIN (VALUES {vals}) AS o(i, term) USING (term)
  WHERE pos - o.i >= 1
), occ AS (
  SELECT doc, anchor FROM hits
  GROUP BY doc, anchor HAVING count(DISTINCT i) = {len(terms)}
)
SELECT doc, CAST(count(*) AS BIGINT) AS n_occurrences
FROM occ GROUP BY doc
ORDER BY n_occurrences DESC, doc ASC LIMIT {k}"""


# ---------------------------------------------------------------------------
# trigram substring search (the pg_trgm / Elasticsearch-wildcard device):
# LIKE '%q%' over a corpus is a full scan by construction — no sort order
# or token index helps an infix match. Character trigrams do: if a text
# contains q (|q| >= 3), it contains every trigram of q, so an inverted
# index on trigrams yields a LOSSLESS candidate set (theorem, not
# heuristic — the PPJoin/prefix-filter family's logic applied to
# substring containment), and only candidates pay the exact contains()
# verification.
# ---------------------------------------------------------------------------


def trigram_postings(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Distinct character-trigram postings ``(tri, doc)`` — the
    build-once side (persist with the textindex batch layout: bucket by
    ``pmod(xxhash64(tri), n)`` exactly like term postings; at query
    time a q-trigram probe then prunes to q buckets). One projection +
    one Generate; ``array_distinct`` keeps repeated trigrams from
    inflating the index (postings are per (tri, doc), not per
    occurrence). Texts shorter than 3 chars contribute no postings —
    searches that short fall back to a scan (:func:`substring_search`)."""
    tris = F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({text_col}) - 2, 0)),"
        f" i -> substring({text_col}, i, 3)))"
    )
    return df.where(F.col(text_col).isNotNull()).select(
        F.explode(tris).alias("tri"), F.col(id_col).alias("doc")
    )


def substring_candidates(postings: DataFrame, query: str) -> DataFrame:
    """Docs containing ALL trigrams of ``query`` (|query| >= 3): the
    lossless superset of true substring matches. The probe filters the
    postings to the query's own trigrams (a literal IN list — with a
    persisted bucketed index this prunes partitions at file listing)
    and keeps docs hitting all of them; false positives (trigrams
    present but scattered) are weeded by the caller's exact verify."""
    if len(query) < 3:
        raise ValueError(
            f"substring_candidates: query must be >= 3 chars, got {query!r}"
        )
    tris = sorted({query[i : i + 3] for i in range(len(query) - 2)})
    hits = postings.where(F.col("tri").isin(tris))
    return (
        hits.groupBy("doc")
        .agg(F.count(F.lit(1)).alias("_nt"))
        .where(F.col("_nt") == len(tris))
        .select("doc")
    )


def substring_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Exact substring search (``text CONTAINS query``, case-sensitive
    — LIKE '%q%' semantics): trigram-candidate pruning + exact
    ``contains`` verification, returning the matching rows of ``df``.
    Pass a prebuilt ``postings`` (from :func:`trigram_postings`,
    typically persisted) to skip rebuilding the index; queries shorter
    than 3 chars take the plain scan path (no trigram can prune them —
    disclosed, exact either way)."""
    if len(query) < 3:
        return df.where(F.col(text_col).contains(query))
    p = postings if postings is not None else trigram_postings(df, id_col, text_col)
    cand = substring_candidates(p, query).withColumnRenamed("doc", id_col)
    return df.join(cand, id_col, "left_semi").where(
        F.col(text_col).contains(query)
    )


_TRIGRAM_META_SCHEMA = "n_buckets int, _batch string"


def build_trigram_index(
    df: DataFrame,
    id_col: str,
    path: str,
    text_col: str = "text",
    n_buckets: int = 64,
    batch_id: str = "00000",
) -> None:
    """Persist the trigram postings under ``path`` in the established
    index layout: ``postings/_batch=<id>/_bucket=<b>/`` with postings
    term-sorted within files, plus a self-describing meta row
    (``n_buckets`` — the probe hash can never drift from the build).
    A query's trigrams prune to their own ``_bucket`` directories at
    file listing (PartitionFilters) and ``tri IN`` pushes into parquet
    row groups — LIKE '%q%' without the corpus scan.

    Batches follow the text-index contract: NEW docs only (a doc lives
    in exactly one batch, so per-doc trigram postings stay distinct
    across the whole store and the all-trigrams candidate count is
    exact); fold later crawl batches with :func:`append_trigram_index`.
    """
    import re

    if not re.match(_BATCH_ID_OK, str(batch_id)):
        raise ValueError(f"build_trigram_index: bad batch_id {batch_id!r}")
    if n_buckets < 1:
        raise ValueError(f"build_trigram_index: n_buckets={n_buckets}")
    p = trigram_postings(df, id_col, text_col).withColumn(
        "_bucket", F.pmod(F.xxhash64("tri"), F.lit(n_buckets)).cast("int")
    )
    (
        p.repartition("_bucket")
        .sortWithinPartitions("tri")
        .write.partitionBy("_bucket")
        .mode("overwrite")
        .parquet(f"{path}/postings/_batch={batch_id}")
    )
    spark = df.sparkSession
    spark.createDataFrame(
        [(int(n_buckets), str(batch_id))], _TRIGRAM_META_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/corpus/_batch={batch_id}")


def append_trigram_index(
    df: DataFrame, id_col: str, path: str, batch_id: str, text_col: str = "text"
) -> None:
    """Fold a NEW batch into an existing trigram index: ``n_buckets``
    is read from the store's meta (never restated), a committed
    ``batch_id`` is refused (the meta row is written LAST, so retrying
    a failed batch overwrites only its own dirs)."""
    spark = df.sparkSession
    meta = spark.read.schema(_TRIGRAM_META_SCHEMA).parquet(f"{path}/corpus")
    nb = [int(r["n_buckets"]) for r in meta.select("n_buckets").distinct().collect()]
    if len(nb) != 1:
        raise ValueError(f"append_trigram_index: inconsistent n_buckets {nb}")
    existing = {r["_batch"] for r in meta.select("_batch").distinct().collect()}
    if str(batch_id) in existing:
        raise ValueError(f"append_trigram_index: batch {batch_id!r} already committed")
    build_trigram_index(df, id_col, path, text_col, nb[0], batch_id)


def indexed_substring_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    path: str,
) -> DataFrame:
    """:func:`substring_search` against a PERSISTED trigram index: the
    probe reads only the query trigrams' ``_bucket`` partition
    directories (pruned at file listing — pinned in test_plans) and
    pushes ``tri IN (...)`` into term-sorted row groups, then verifies
    candidates with the exact ``contains``. Queries under 3 chars fall
    back to the scan path (no trigram can prune them)."""
    if len(query) < 3:
        return df.where(F.col(text_col).contains(query))
    spark = df.sparkSession
    meta = spark.read.schema(_TRIGRAM_META_SCHEMA).parquet(f"{path}/corpus")
    nb = [int(r["n_buckets"]) for r in meta.select("n_buckets").distinct().collect()]
    if len(nb) != 1:
        raise ValueError(f"indexed_substring_search: inconsistent n_buckets {nb}")
    tris = sorted({query[i : i + 3] for i in range(len(query) - 2)})
    # bucket ids via the same JVM hash the build used (one tiny job)
    bdf = spark.createDataFrame([(t,) for t in tris], "tri string").select(
        F.pmod(F.xxhash64("tri"), F.lit(nb[0])).cast("int").alias("b")
    )
    buckets = sorted({r["b"] for r in bdf.collect()})
    postings = (
        spark.read.parquet(f"{path}/postings")
        .where(F.col("_bucket").isin(buckets))
        .where(F.col("tri").isin(tris))
        .select("tri", "doc")
    )
    cand = substring_candidates(postings, query).withColumnRenamed("doc", id_col)
    return df.join(cand, id_col, "left_semi").where(F.col(text_col).contains(query))

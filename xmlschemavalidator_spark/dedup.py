"""Deduplication at corpus scale: exact, MinHash+LSH, SimHash, n-gram
Jaccard, and embedding-cosine near-dup.

Scale design notes (the part that matters at 10^12 docs):

* exact dedup — hash-groupBy on a 16-byte digest, partial+final agg; the
  shuffle carries (digest, id), never the text;
* MinHash+LSH — signatures are computed in ONE narrow projection
  (k × array_min over the shingle array, all JVM); banding turns the
  quadratic candidate problem into a groupBy on (band_id, band_hash);
  candidate pairs are verified with exact Jaccard ONLY within buckets;
* hot buckets (boilerplate shingles) are capped — a bucket with more than
  ``max_bucket`` docs is dropped, not exploded into O(n²) pairs; the "no
  silent caps" rule is served by the audit surfaces
  :func:`minhash_hot_buckets` / :func:`jaccard_hot_shingles`, which return
  exactly what was dropped (empty = full coverage);
* SimHash — 64-bit signatures entirely JVM-side (explode + xxhash64 +
  64 bit-vote partial aggregates — no Python anywhere in the path);
  near-dup = signatures within ``hamming_max`` — pigeonhole blocking
  into hamming_max+1 chunks (at least one chunk identical for any
  qualifying pair), again groupBy not cross-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xmlschemavalidator_spark.textops import _WS as _TEXT_WS
from xmlschemavalidator_spark.textops import doc_fingerprint, tokens


def _spread(df: DataFrame) -> DataFrame:
    """Ensure the CPU-heavy narrow stages (shingling, hashing, signatures)
    run at cluster parallelism. A small parquet input arrives as 1-2
    partitions and would otherwise serialize the whole pipeline onto one
    core (measured: the entire minhash_lsh wall time was one task). At real
    scale the estimate clears ``defaultParallelism`` and this is a no-op —
    the round-robin shuffle only ever moves data when the input is tiny.

    For file-backed frames the parallelism estimate is METADATA-ONLY (r3
    VERDICT housekeeping: ``df.rdd.getNumPartitions()`` forced a full
    plan→RDD conversion per call): file count from the analyzed plan, plus
    a size/maxPartitionBytes bound for the few-huge-files shape. Frames
    with NO file relations (in-memory test data, and crucially the
    pipeline's localCheckpoint'ed stage outputs) fall back to the actual
    partition count — for those the plan is already an RDD scan, so the
    conversion is trivial, and an unconditional repartition would have
    round-robin-shuffled the whole corpus at every dedup entry point
    (review finding, reproduced against the 20M rehearsal shape)."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if len(files) >= target:
        return df
    if not files:
        if df.rdd.getNumPartitions() >= target:
            return df
        return df.repartition(target)
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    total = 0
    for f in files:
        try:
            path = jvm.org.apache.hadoop.fs.Path(f)
            total += path.getFileSystem(hconf).getFileStatus(path).getLen()
        except Exception:
            return df  # unstat-able source: don't guess, don't shuffle
    raw = str(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    ).strip().lower()
    digits = "".join(ch for ch in raw if ch.isdigit()) or "134217728"
    unit = raw[len(digits):].strip()
    mult = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10,
            "m": 1 << 20, "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30}.get(unit, 1)
    if total // (int(digits) * mult) + len(files) >= target:
        return df  # few files but enough byte-splits — already parallel
    return df.repartition(target)


# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------

def exact_duplicate_groups(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents:
    ``(fingerprint, n_docs, doc_ids)``, only groups with n_docs > 1."""
    fp = doc_fingerprint(F.col(text_col))
    return (
        df.select(fp.alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .filter(F.col("n_docs") > 1)
    )


def drop_exact_duplicates(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep the lowest-id doc per fingerprint. Window-free: min-id per group
    then semi join (two hash aggs beat a global sort at scale)."""
    keyed = df.withColumn("fingerprint", doc_fingerprint(F.col(text_col)))
    keep = keyed.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return keyed.join(keep, on=["fingerprint", id_col], how="left_semi").drop("fingerprint")


# --------------------------------------------------------------------------
# shingles + MinHash + LSH
# --------------------------------------------------------------------------

def shingles(text: Column, n: int = 3) -> Column:
    """Token n-gram shingles (distinct), all-JVM: slice over the token array."""
    toks = tokens(text)
    k = F.size(toks) - (n - 1)
    return F.when(k <= 0, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        )
    )


# Universal-hash permutation family over the Mersenne prime 2^61-1:
# perm_i(h) = (a_i * h + b_i) mod p with h < 2^31 keeps every product far
# under 2^63 — no overflow even under Spark 4's default ANSI mode.
_MINHASH_P = (1 << 31) - 1  # Mersenne prime


def _perm_consts(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs, a_i odd and nonzero."""
    out = []
    state = seed
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (_MINHASH_P - 2)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _MINHASH_P
        out.append((a, b))
    return out


def minhash_signature(text: Column, num_hashes: int = 32, shingle_n: int = 3) -> Column:
    """MinHash signature as ONE array expression: the shingle array is hashed
    once (pmod(xxhash64) base hash), then the k permutations are cheap
    affine transforms of the precomputed base hashes — the expensive
    shingle-string construction is NOT repeated per permutation (HOF
    subtrees are not common-subexpression-eliminated by codegen, so naive
    per-permutation expressions re-shingle k times; measured 30x slower).

    For corpus-scale signature computation prefer
    :func:`minhash_signatures_df` (explode + 32 partial-aggregated mins)."""
    base = F.transform(
        shingles(text, shingle_n), lambda s: F.pmod(F.xxhash64(s), F.lit(_MINHASH_P))
    )
    consts = _perm_consts(num_hashes)
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(
                base,
                lambda h: F.pmod(
                    h
                    * F.element_at(F.array(*[F.lit(a) for a, _ in consts]), i + 1)
                    + F.element_at(F.array(*[F.lit(b) for _, b in consts]), i + 1),
                    F.lit(_MINHASH_P),
                ),
            )
        ),
    )


def minhash_signatures_df(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Corpus-scale MinHash: explode distinct shingles (strings built ONCE),
    base-hash each once, then num_hashes partial-aggregable ``min`` columns.
    The shuffle carries (doc, 32 longs) after map-side combine — independent
    of document length. Returns (doc, mh_0..mh_{k-1}); docs too short to
    shingle are absent.

    ``portable=True`` swaps the xxhash64 base hash for an md5-derived one
    (first 8 hex chars as an integer — DuckDB can replay it exactly, which
    upgrades the LSH pair queries to hash-green oracles; VERDICT r2
    item 6). Same permutation family either way. Keep the xxhash64 default
    in production: one JVM hash beats md5+substring+parse per shingle."""
    from xmlschemavalidator_spark.textops import portable_hash64

    base = (
        F.pmod(portable_hash64(F.col("sh")), F.lit(_MINHASH_P))
        if portable
        else F.pmod(F.xxhash64("sh"), F.lit(_MINHASH_P))
    )
    ex = (
        _spread(df)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(shingles(F.col(text_col), shingle_n)).alias("sh"),
        )
        .withColumn("h", base)
    )
    aggs = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(_MINHASH_P))).alias(f"mh_{i}")
        for i, (a, b) in enumerate(_perm_consts(num_hashes))
    ]
    return ex.groupBy("doc").agg(*aggs)


def minhash_band_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """LSH band buckets with their member doc lists:
    ``(band, bucket, docs)`` — the shared core of candidate generation and
    the hot-bucket audit. ``portable=True``: the bucket key is the literal
    minhash tuple as a string instead of its xxhash64 (exact grouping an
    external engine reproduces; prod default keeps the 8-byte hash key)."""
    banded = minhash_banded_rows(
        df, id_col, text_col, num_hashes, bands, shingle_n, portable
    )
    return banded.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_list("doc")).alias("docs")
    )


def minhash_banded_rows(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """(doc, band, bucket): one row per (doc, LSH band) — the pre-grouped
    form of :func:`minhash_band_buckets`, also the unit the incremental
    near-dup store persists."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    with_sig = minhash_signatures_df(
        df, id_col, text_col, num_hashes, shingle_n, portable
    )

    def bucket_key(b: int):
        cols = [F.col(f"mh_{b * r + j}") for j in range(r)]
        if portable:
            return F.concat_ws("_", *cols).alias("bucket")
        return F.xxhash64(*cols).alias("bucket")

    return with_sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), bucket_key(b))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")


def minhash_hot_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int = 1000,
    portable: bool = False,
) -> DataFrame:
    """The buckets :func:`minhash_lsh_candidates` DROPS under its
    ``max_bucket`` cap: ``(band, bucket, n_docs)`` — the 'no silent caps'
    audit surface. Empty result = full candidate coverage."""
    grouped = minhash_band_buckets(
        df, id_col, text_col, num_hashes, bands, shingle_n, portable
    )
    return grouped.where(F.size("docs") > max_bucket).select(
        "band", "bucket", F.size("docs").alias("n_docs")
    )


def jaccard_hot_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
    max_posting: int = 1000,
) -> DataFrame:
    """The shingles :func:`jaccard_pairs` excludes under ``max_posting``:
    ``(shingle, posting_len)``. Empty result = the capped Jaccard equals
    exact Jaccard."""
    ex = _spread(df).select(
        F.col(id_col).alias("doc"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("shingle"),
    )
    return (
        ex.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("posting_len"))
        .where(F.col("posting_len") > max_posting)
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int = 1000,
    portable: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs via banding: ``(id_a, id_b, n_shared_bands)``.

    rows-per-band r = num_hashes/bands; two docs collide if any band of r
    minhashes is identical. Pairs are generated inside buckets only; hot
    buckets above ``max_bucket`` are excluded (boilerplate guard) — audit
    what was dropped with :func:`minhash_hot_buckets`. ``portable=True``
    uses the md5 base hash + literal tuple buckets so an external engine
    can reproduce the exact pair set (oracle mode).
    """
    banded = minhash_banded_rows(
        df, id_col, text_col, num_hashes, bands, shingle_n, portable
    )
    return _candidates_from_banded(banded, max_bucket)


def _candidates_from_banded(banded: DataFrame, max_bucket: int) -> DataFrame:
    """Candidate pairs from pre-built ``(doc, band, bucket)`` rows — the
    shared tail of :func:`minhash_lsh_candidates`, also reused by
    :func:`incremental_near_dedup` so one banding pass feeds both the
    cross-batch store join and the within-batch pairing."""
    grouped = banded.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_list("doc")).alias("docs")
    )
    ok = grouped.filter((F.size("docs") > 1) & (F.size("docs") <= max_bucket))
    return (
        ok.select(
            F.explode(
                F.expr(
                    "flatten(transform(docs, (x, i) -> "
                    "transform(slice(docs, i + 2, size(docs) - i - 1), y -> struct(x as a, y as b))))"
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_posting: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs from a shingle inverted
    index: ``(id_a, id_b, jaccard)`` with jaccard >= threshold.

    Inverted-index self-join on shingle (ids ordered to halve the pairs),
    count of common shingles per pair, then |A∪B| = |A|+|B|-common. Hot
    shingles with posting lists above ``max_posting`` are excluded from the
    ENTIRE computation — intersection AND sizes — so the result is exact
    Jaccard over the capped shingle universe (audit the exclusions with
    :func:`jaccard_hot_shingles`).
    """
    base = _spread(df).select(
        F.col(id_col).alias("doc"), shingles(F.col(text_col), shingle_n).alias("sh")
    )
    exploded = base.select("doc", F.explode("sh").alias("shingle"))
    # posting-list cap
    hot = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("pl")).where(
        F.col("pl") > max_posting
    )
    cold = exploded.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    a = cold.select(F.col("shingle"), F.col("doc").alias("id_a"))
    b = cold.select(F.col("shingle"), F.col("doc").alias("id_b"))
    common = (
        a.join(b, on="shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    # |A| and |B| over the SAME capped shingle universe as the intersection:
    # counting hot shingles in the sizes but not in `common` would
    # systematically underestimate Jaccard (two near-identical docs that
    # are 50% boilerplate would score ~0.5, not ~1.0)
    cold_sizes = cold.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = cold_sizes.select(F.col("doc").alias("id_a"), F.col("n_sh").alias("na"))
    sb = cold_sizes.select(F.col("doc").alias("id_b"), F.col("n_sh").alias("nb"))
    jac = (
        common.join(sa, "id_a").join(sb, "id_b")
        .withColumn("jaccard", F.col("common") / (F.col("na") + F.col("nb") - F.col("common")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return jac


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def _simhash_bit_votes(h: Column) -> Column:
    """±1 vote per bit of an already-computed 64-bit token hash.

    ``h`` must be a cheap reference (a lambda variable) — the hash itself is
    computed ONCE in an enclosing ``transform`` (the HOF-no-CSE lesson:
    embedding ``xxhash64(t)`` here would evaluate it 64× per token).
    ``shiftright`` is arithmetic, but ``(h >> i) & 1`` still extracts the
    true bit i for every i including the sign bit."""
    return F.array(
        *[
            (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
            for i in range(64)
        ]
    )


from xmlschemavalidator_spark.hashing import SIGNED_POW2 as _SIMHASH_POW2


def simhash(text: Column) -> Column:
    """64-bit SimHash signature — pure JVM Column expression, no UDF.

    tokenize(lower) → hash each token ONCE (inner ``transform`` +
    ``xxhash64``) → fold 64 bit-vote accumulators (``aggregate`` over a
    64-long array) → assemble the sign bits. Narrow (no shuffle, no Python
    workers); per-occurrence votes, ties → 0-bit, empty/NULL text → 0, all
    matching the previous pandas-UDF semantics. The token hash changed from
    FNV-1a to ``xxhash64`` with this rewrite — signatures are pinned by the
    JVM-vs-Python parity test (tests/test_dedup.py) against
    :func:`simhash_py`."""
    tokens = F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != F.lit(""))
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    zero64 = F.array_repeat(F.lit(0).cast("long"), 64)
    votes = F.aggregate(
        hashes,
        zero64,
        lambda acc, h: F.zip_with(acc, _simhash_bit_votes(h), lambda a, v: a + v),
    )
    sig_bits = F.zip_with(
        votes,
        F.array(*[F.lit(p).cast("long") for p in _SIMHASH_POW2]),
        lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
    )
    # bits are disjoint, so sum == bitwise OR and cannot overflow (ANSI-safe)
    sig = F.aggregate(sig_bits, F.lit(0).cast("long"), lambda a, x: a + x)
    return F.coalesce(sig, F.lit(0).cast("long"))


def simhash_signatures_df(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Corpus-scale SimHash: ``(doc, sig)`` via explode(tokens) →
    ``xxhash64`` once per occurrence → 64 bit-vote partial aggregates —
    the same partial-agg shape as :func:`minhash_signatures_df`. The
    shuffle carries (doc, 64 longs) after map-side combine, independent of
    document length; everything stays in whole-stage codegen, no Python
    workers. Signatures are identical to :func:`simhash` (same hash, same
    vote/tie rules) — pinned by tests/test_dedup.py.

    Measured at 250k docs, local[32], warm (BENCH/BASELINE.md): 2.9 s here
    vs 5.5 s for the per-row HOF form vs 1.7 s for the retired pandas UDF —
    the UDF wins locally when its workers are warm, but pins Python CPU at
    cluster scale; this path has no Python in it at all.

    Docs with no tokens get sig=0 (LEFT join back to the doc set), matching
    :func:`simhash` on empty text."""
    ids = _spread(df).select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
    toks = ids.select(
        "doc",
        F.explode(
            F.filter(F.split(F.lower("_t"), r"\s+"), lambda t: t != F.lit(""))
        ).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    aggs = [
        F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"_v{i}")
        for i in range(64)
    ]
    votes = toks.groupBy("doc").agg(*aggs)
    sig = None
    for i in range(64):
        term = (
            F.when(F.col(f"_v{i}") > 0, F.lit(_SIMHASH_POW2[i]).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        sig = term if sig is None else sig + term
    with_sig = votes.select("doc", sig.alias("sig"))
    return (
        ids.select("doc")
        .join(with_sig, "doc", "left")
        .select("doc", F.coalesce("sig", F.lit(0).cast("long")).alias("sig"))
    )


def simhash_py(text) -> int:
    """Driver-side pure-Python reference of :func:`simhash` — same
    tokenization, same ``xxhash64`` token hash (hashing.py), same vote/tie
    rules. Exists ONLY for cross-implementation parity tests; never put
    this in a row path. Caveat: Python ``str.lower``/``str.split`` and
    Spark ``lower``/``\\s+`` agree on ASCII; exotic Unicode case/space
    chars can differ — parity tests use ASCII corpora."""
    from xmlschemavalidator_spark.hashing import xxh64_str

    if not isinstance(text, str):
        return 0
    votes = [0] * 64
    for tok in text.lower().split():
        h = xxh64_str(tok) & ((1 << 64) - 1)  # unsigned view for bit tests
        for i in range(64):
            votes[i] += 1 if (h >> i) & 1 else -1
    sig = 0
    for i in range(64):
        if votes[i] > 0:
            sig |= 1 << i
    return sig - (1 << 64) if sig >= (1 << 63) else sig


def _simhash_chunks(
    df: DataFrame, id_col: str, text_col: str, hamming_max: int
) -> DataFrame:
    """Pigeonhole chunk explosion shared by :func:`simhash_near_duplicates`
    and :func:`simhash_hot_chunks`: ``(doc, sig, ci, cv)`` — one row per
    (doc, chunk index) with the chunk's bit value."""
    return sig_chunks(simhash_signatures_df(df, id_col, text_col), hamming_max)


def sig_chunks(sigd: DataFrame, hamming_max: int) -> DataFrame:
    """Pigeonhole chunk explosion of ANY 64-bit signature frame
    ``(doc, sig)`` — the generic layer under the SimHash text path and
    :func:`hamming_near_duplicates`: ``(doc, sig, ci, cv)``, one row per
    (doc, chunk index) with the chunk's bit value."""
    n_chunks = min(hamming_max + 1, 16)
    width = -(-64 // n_chunks)  # ceil
    mask = (1 << width) - 1
    return sigd.select(
        "doc",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        # AND after the shift strips arithmetic sign-extension
                        F.shiftright(F.col("sig"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("cv"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select("doc", "sig", "c.ci", "c.cv")


def simhash_hot_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    hamming_max: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """The chunk buckets :func:`simhash_near_duplicates` DROPS under its
    ``max_bucket`` cap: ``(ci, cv, n_docs)`` — the 'no silent caps' audit
    surface, same contract as :func:`minhash_hot_buckets`. Empty result =
    full candidate coverage. The classic hot bucket is ``cv = 0`` in every
    chunk: all empty/whitespace-only docs get sig = 0 and land there."""
    chunks = _simhash_chunks(df, id_col, text_col, hamming_max)
    return (
        chunks.groupBy("ci", "cv")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > max_bucket)
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    hamming_max: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Pairs with SimHash Hamming distance <= hamming_max.

    Pigeonhole blocking: the 64-bit signature is split into
    ``hamming_max + 1`` chunks — at most hamming_max bits differ, so at
    least one chunk is IDENTICAL between any qualifying pair (sound for
    every hamming_max, not just <= 3; a fixed 4-chunk split silently loses
    recall above 3). More chunks = coarser buckets = more candidates to
    verify: keep hamming_max small at corpus scale.

    Hot chunk buckets above ``max_bucket`` docs are EXCLUDED before the
    self-join: without the cap every empty doc shares sig = 0 and every
    boilerplate signature cluster shares all its chunks, turning the
    bucket join O(n²) at corpus scale. Audit what was dropped with
    :func:`simhash_hot_chunks` (empty = nothing dropped). A pair is still
    found if ANY of its shared chunks stays under the cap.

    The signature pipeline (explode + 64 bit-vote aggs, the expensive
    stage) runs ONCE by construction: the bucket-size gate is a window
    count over (ci, cv) riding one exchange, and pairs are expanded from a
    per-bucket member list (minhash_lsh_candidates shape) instead of a
    self-join whose two branches would each recompute signatures (review
    finding — ReuseExchange did not fire across the aliased join sides).
    The collect_list buffer is bounded: the gate filters to <= max_bucket
    rows per bucket BEFORE the aggregation."""
    return hamming_near_duplicates(
        simhash_signatures_df(df, id_col, text_col),
        hamming_max=hamming_max,
        max_bucket=max_bucket,
    )


def hamming_near_duplicates(
    sigd: DataFrame,
    hamming_max: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Pairs with Hamming distance <= hamming_max over ANY 64-bit
    signature frame ``(doc, sig)`` — the generic pairing layer
    :func:`simhash_near_duplicates` (text) and :func:`bbit_jaccard_pairs`
    (1-bit MinHash) both run on. Same pigeonhole blocking, hot-bucket
    cap, and grouped member-list expansion as the text path (see that
    docstring for the scale analysis); the signature computation
    upstream runs ONCE because the gate is a window count riding the
    chunk exchange, never an aliased self-join."""
    from pyspark.sql import Window

    chunks = sig_chunks(sigd, hamming_max)
    bucket_n = F.count(F.lit(1)).over(Window.partitionBy("ci", "cv"))
    pruned = (
        chunks.withColumn("_n", bucket_n)
        # singleton buckets can't pair — drop them with the hot ones
        .where((F.col("_n") > 1) & (F.col("_n") <= max_bucket))
        .drop("_n")
    )
    members = pruned.groupBy("ci", "cv").agg(
        F.sort_array(F.collect_list(F.struct("doc", "sig"))).alias("m")
    )
    cand = (
        members.select(
            F.explode(
                F.expr(
                    "flatten(transform(m, (x, i) -> "
                    "transform(slice(m, i + 2, size(m) - i - 1), y -> "
                    "struct(x.doc as id_a, x.sig as sig_a, "
                    "y.doc as id_b, y.sig as sig_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b", "p.sig_a", "p.sig_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    dist = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.withColumn("hamming", dist).where(F.col("hamming") <= hamming_max).select(
        "id_a", "id_b", "hamming"
    )


# --------------------------------------------------------------------------
# clustering: pairs -> connected components -> canonical survivor
# --------------------------------------------------------------------------

def near_duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs via min-label propagation:
    ``(doc, cluster)`` where cluster = the smallest doc id reachable.

    Each iteration is ONE job: the propagation join feeds a min-aggregate
    that also carries each doc's previous label (a `_self` marker row per
    doc — every doc has exactly one), and the changed-label count rides the
    same job as an ``Observation`` metric collected by the eager
    ``localCheckpoint``. The earlier form re-joined new vs old labels and
    ran a second action per round purely for the fixpoint check (round-1
    verdict watch item). ``localCheckpoint`` also cuts lineage every round
    — without it the plan doubles per iteration and the driver OOMs long
    before the data does. Converges in O(diameter) rounds (near-dup graphs
    are overwhelmingly tiny cliques, so 2-3 rounds in practice); for
    hub-heavy graphs see :func:`alternating_star_clusters`, which contracts
    in O(log² n) rounds."""
    from pyspark.sql import Observation

    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("cluster", F.col("doc"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        msgs = (
            edges.join(labels, edges.src == labels.doc)
            .select(F.col("dst").alias("doc"), F.col("cluster"))
        )
        obs = Observation()
        new_all = (
            labels.withColumn("_self", F.lit(True))
            .unionByName(msgs.withColumn("_self", F.lit(False)))
            .groupBy("doc")
            .agg(
                F.min("cluster").alias("cluster"),
                F.min(F.when(F.col("_self"), F.col("cluster"))).alias("_prev"),
            )
            .observe(
                obs,
                F.sum((F.col("cluster") != F.col("_prev")).cast("long")).alias(
                    "n_changed"
                ),
            )
        )
        prev_labels = labels
        labels = new_all.select("doc", "cluster").localCheckpoint()
        # the new checkpoint is eager, so the previous round's blocks are
        # no longer referenced — free them (review finding: each round
        # otherwise leaked a |V|-row label table for the session's life)
        from xmlschemavalidator_spark.session import free_local_checkpoint

        free_local_checkpoint(prev_labels)
        # sum over ZERO rows observes None, not 0 — empty/converged input
        # must still hit the fixpoint exit (round-2 review finding: an
        # empty pairs frame previously ran all iterations and then warned)
        if not obs.get["n_changed"]:
            break
    else:
        # labels move one hop per round: a component with diameter >
        # max_iterations exits here with SPLIT clusters. Surface it —
        # silently returning partial components corrupts dedup decisions.
        # (Found by the star-vs-propagation equivalence test on a 30-node
        # path graph.) High-diameter graphs should use
        # alternating_star_clusters, which converges in O(log²) rounds.
        import warnings

        warnings.warn(
            f"near_duplicate_clusters did not reach a fixpoint in "
            f"{max_iterations} iterations — components with diameter > "
            f"{max_iterations} are split; raise max_iterations or use "
            f"alternating_star_clusters",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def alternating_star_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star/small-star edge
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14 — a published algorithm, reimplemented on DataFrames).
    Same output contract as :func:`near_duplicate_clusters`:
    ``(doc, cluster)``, cluster = component-minimum id.

    Why it exists: min-label propagation converges in O(diameter) rounds —
    fine for near-dup cliques, but a hub-and-path-heavy graph (boilerplate
    chains) makes diameter large. Star contraction converges in O(log²)
    rounds by rewiring every node toward its neighborhood minimum:

    * large-star: every neighbor LARGER than u is re-pointed at
      m = min(Γ(u) ∪ {u});
    * small-star: every neighbor ≤ u (and u itself) is re-pointed at the
      minimum of that down-neighborhood.

    Each half-step is one groupBy + one join on the (shrinking) edge set;
    the fixpoint check (edge multiset unchanged, via count + canonical
    hash-sum) rides the same job as Observation metrics. Equivalence with
    min-label propagation is pinned by tests on random + hub graphs;
    measured rounds/throughput on a 1M-edge hub-heavy graph are in
    SCALE.md."""
    from pyspark.sql import Observation

    # symmetric edge list without self-loops
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .unionByName(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    prev_sig = None
    for _ in range(max_iterations):
        # ---- large-star: every neighbor v > u re-points at m(u) -----------
        # each undirected edge {a,b}, a<b, is emitted exactly once, from its
        # smaller endpoint's group (u=a, v=b) — as (b, m(a)) with m(a) <= a,
        # so connectivity is preserved (Kiveris Thm 1) and no self-loops form
        mins = edges.groupBy("u").agg(F.min("v").alias("_mv"))
        mins = mins.select("u", F.least(F.col("u"), F.col("_mv")).alias("m"))
        from xmlschemavalidator_spark.session import free_local_checkpoint

        big = edges.where(F.col("v") > F.col("u"))
        ls = big.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
        prev_edges = edges
        edges = (
            ls.unionByName(ls.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
            .localCheckpoint()
        )
        free_local_checkpoint(prev_edges)
        # ---- small-star: down-neighborhood re-points at its minimum -------
        down = edges.where(F.col("v") < F.col("u"))  # orient big -> small
        dmins = down.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            down.join(dmins, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .unionByName(dmins.select(F.col("u").alias("a"), F.col("m").alias("b")))
        )
        obs = Observation()
        sym = (
            ss.unionByName(ss.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
            .distinct()
            .observe(
                obs,
                F.count(F.lit(1)).alias("n_edges"),
                # ANSI-safe multiset signature: decimal sum can't overflow
                # (a raw long sum of xxhash64 values does, CLAUDE.md rule)
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("sig"),
            )
        )
        prev_edges = edges
        edges = sym.localCheckpoint()
        free_local_checkpoint(prev_edges)
        sig = (obs.get["n_edges"], obs.get["sig"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        # same contract as near_duplicate_clusters: a non-converged exit
        # can leave a doc attached to several smaller nodes (multiple
        # (doc, cluster) rows) — never return that silently
        import warnings

        warnings.warn(
            f"alternating_star_clusters did not reach the edge fixpoint in "
            f"{max_iterations} iterations — output may contain multiple "
            f"labels per doc; raise max_iterations",
            RuntimeWarning,
            stacklevel=2,
        )
    # stars: every edge points big <-> small with small = component min
    down = edges.where(F.col("v") < F.col("u"))
    labels = down.select(F.col("u").alias("doc"), F.col("v").alias("cluster"))
    centers = (
        edges.select(F.col("u").alias("doc"))
        .distinct()
        .join(labels.select("doc"), "doc", "left_anti")
        .withColumn("cluster", F.col("doc"))
    )
    return labels.unionByName(centers)


def drop_near_duplicates(
    df: DataFrame, id_col: str, pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Keep one canonical doc per near-dup cluster (the smallest id); docs
    not in any pair pass through. A left join against the (small relative to
    the corpus) cluster table — no shuffle of untouched rows when AQE
    broadcasts it."""
    clusters = near_duplicate_clusters(pairs, id_a, id_b)
    losers = clusters.where(F.col("doc") != F.col("cluster")).select(
        F.col("doc").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


# --------------------------------------------------------------------------
# incremental (cross-batch) exact dedup against a persistent fingerprint
# store, for the daily-crawl-increment shape: each batch drops docs whose
# content was seen in ANY earlier batch, then commits its own fingerprints.
# --------------------------------------------------------------------------


def _read_store(
    spark, state_path: str, empty_schema: str, exclude_batch: str | None = None
) -> DataFrame:
    """Shared persistent-store reader (fingerprint and LSH-bucket stores).
    ONLY a missing path means 'first batch'. Any other read failure
    (permissions, corrupt footer, transient storage error) must raise —
    swallowing it would silently disable cross-batch dedup and admit
    every previously-seen duplicate (round-2 review finding).

    ``exclude_batch``: drop rows committed under this batch_id —
    re-running batch N against its own earlier (possibly partial) commit
    must not dedup the batch against itself (a retry after a late failure
    would otherwise emit an EMPTY corpus — round-2 review finding).
    Legacy stores without a batch_id column exclude nothing."""
    from pyspark.errors import AnalysisException

    try:
        # mergeSchema: a store upgraded from an older layout mixes footers
        # with and without newer columns; without merging, Spark picks ONE
        # footer and e.g. the batch-exclusion is nondeterministically
        # skipped (third-review finding) — merged, legacy rows read as
        # NULL and are correctly retained
        store = spark.read.option("mergeSchema", "true").parquet(state_path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return spark.createDataFrame([], empty_schema)
        raise
    if exclude_batch is not None and "batch_id" in store.columns:
        store = store.where(
            F.col("batch_id").isNull() | (F.col("batch_id") != exclude_batch)
        )
    return store


def _seen_fingerprints(spark, state_path: str, exclude_batch: str | None = None) -> DataFrame:
    """The committed fingerprints visible to this batch (see
    :func:`_read_store` for the missing-path / raise / retry-exclusion
    contract)."""
    return _read_store(
        spark, state_path, "fingerprint string", exclude_batch
    ).select("fingerprint")


def incremental_exact_dedup(
    new_df: DataFrame,
    id_col: str,
    state_path: str,
    text_col: str = "text",
    batch_id: str | None = None,
) -> DataFrame:
    """Docs of this batch that are NOT exact duplicates of (a) any earlier
    batch's docs (fingerprint store at ``state_path``) or (b) an
    earlier-id doc in the same batch. Pure read side — call
    :func:`commit_seen_fingerprints` AFTER the kept output is durably
    written, so a failed job never marks documents seen without having
    emitted them (the write-once ordering the manifest layer uses too).

    Scale shape: the store holds one 32-char md5 per unique doc ever seen
    — the anti-join shuffles (fingerprint) pairs only, and AQE broadcasts
    the store side while it is small."""
    within = drop_exact_duplicates(new_df, id_col, text_col)
    keyed = within.withColumn("_fp", doc_fingerprint(F.col(text_col)))
    seen = _seen_fingerprints(new_df.sparkSession, state_path, exclude_batch=batch_id)
    return (
        keyed.join(seen, keyed["_fp"] == seen["fingerprint"], "left_anti")
        .drop("_fp")
    )


def commit_seen_fingerprints(
    kept_df: DataFrame,
    state_path: str,
    text_col: str = "text",
    batch_id: str | None = None,
) -> None:
    """Append the kept batch's distinct fingerprints to the store, stamped
    with ``batch_id`` so a RETRY of the same batch can exclude its own
    earlier commit (pass the same batch_id to incremental_exact_dedup).
    Safe to retry: duplicate fingerprints in the store change no dedup
    decision (membership is a set semantics); compact with
    :func:`compact_fingerprint_store` when growth matters (plain distinct()
    keys on (fingerprint, batch_id); a min()-style collapse would DROP the
    evidence that another batch saw the fingerprint and break retry
    exclusion — fourth-review finding)."""
    (
        kept_df.select(
            doc_fingerprint(F.col(text_col)).alias("fingerprint"),
            F.lit(batch_id).cast("string").alias("batch_id"),
        )
        .distinct()
        .write.mode("append")
        .parquet(state_path)
    )


def compact_fingerprint_store(spark, state_path: str) -> None:
    """Rewrite the store with one row per fingerprint while PRESERVING the
    retry-exclusion semantics: a fingerprint committed by two or more
    distinct batches (or carrying any legacy NULL row) collapses to
    ``batch_id NULL`` — excluded by NO retry, because it is seen
    regardless of which batch re-runs; a single-batch fingerprint keeps
    its batch_id so that batch's own retry still ignores it. Local-FS
    directory swap; on object stores write a fresh store path instead."""
    store = spark.read.option("mergeSchema", "true").parquet(state_path)
    if "batch_id" not in store.columns:
        store = store.withColumn("batch_id", F.lit(None).cast("string"))
    compacted = (
        store.groupBy("fingerprint")
        .agg(
            F.count_distinct("batch_id").alias("_n"),  # NULLs not counted
            F.max(F.col("batch_id").isNull().cast("int")).alias("_has_null"),
            F.min("batch_id").alias("_b"),
        )
        .select(
            "fingerprint",
            F.when((F.col("_n") == 1) & (F.col("_has_null") == 0), F.col("_b"))
            .otherwise(F.lit(None).cast("string"))
            .alias("batch_id"),
        )
    )
    _swap_store(compacted, state_path)


def _swap_store(compacted: DataFrame, state_path: str) -> None:
    """Write-then-rename replacement of a local-FS parquet store: the live
    path is never in a partially-written state (the rename is the commit
    point)."""
    import os
    import shutil

    tmp = state_path.rstrip("/") + ".compact.tmp"
    old_dir = state_path.rstrip("/") + ".old"
    compacted.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(old_dir, ignore_errors=True)
    os.rename(state_path, old_dir)
    os.rename(tmp, state_path)
    shutil.rmtree(old_dir, ignore_errors=True)


def _seen_buckets(spark, state_path: str, exclude_batch: str | None = None) -> DataFrame:
    """The near-dup bucket store visible to this batch, aggregated to
    ``(band, bucket, stored_n)`` where ``stored_n`` is the total kept-doc
    population committed for the bucket across earlier batches. The
    per-(bucket, batch) max-then-sum makes a RETRIED commit idempotent
    (duplicate appends of one batch never double-count); legacy rows
    without ``n_docs`` count as 1. Missing-path / raise / retry-exclusion
    contract: :func:`_read_store`."""
    store = _read_store(
        spark,
        state_path,
        "band int, bucket string, n_docs bigint, batch_id string",
        exclude_batch,
    )
    if "n_docs" not in store.columns:
        store = store.withColumn("n_docs", F.lit(1).cast("bigint"))
    if "batch_id" not in store.columns:
        store = store.withColumn("batch_id", F.lit(None).cast("string"))
    per_batch = store.groupBy("band", "bucket", "batch_id").agg(
        F.max(F.coalesce(F.col("n_docs"), F.lit(1))).alias("_n")
    )
    return per_batch.groupBy("band", "bucket").agg(
        F.sum("_n").cast("bigint").alias("stored_n")
    )


def incremental_near_dedup(
    new_df: DataFrame,
    id_col: str,
    state_path: str,
    text_col: str = "text",
    batch_id: str | None = None,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int = 1000,
    within_batch: bool = True,
) -> DataFrame:
    """Cross-batch NEAR-dup dedup — the LSH analog of
    :func:`incremental_exact_dedup`: drop docs of this batch whose any
    band bucket collides with a bucket committed by an earlier batch (the
    earlier batch kept the canonical copy), then (``within_batch``) run
    the usual candidate→CC near-dedup inside the batch. Pure read side —
    call :func:`commit_seen_buckets` AFTER the kept output is durable.

    A bucket collision is an UNVERIFIED LSH candidate — the same
    approximation :func:`drop_near_duplicates` already accepts inside a
    batch. Hot-bucket guard: a bucket whose COMBINED population (docs
    committed by earlier batches + docs of this batch) exceeds
    ``max_bucket`` is boilerplate, not near-dup evidence — it is excluded
    from dropping (audit with :func:`incremental_near_dedup_hot_buckets`;
    the same cap philosophy as every other blocking path here). The
    committed side counts because a bucket the committing batch already
    classified as boilerplate-hot must not become drop evidence for a
    later batch's unrelated docs (review finding). Scale: the store join
    shuffles (band, bucket) rows only; the corpus text never moves. The
    banded rows are localCheckpoint'd — one shingle+signature pass feeds
    the store join, the cap stats, and the within-batch pairing (so this
    call is EAGER, like the CC steps above)."""
    rows = (
        minhash_banded_rows(new_df, id_col, text_col, num_hashes, bands, shingle_n)
        .withColumn("bucket", F.col("bucket").cast("string"))
        .localCheckpoint()
    )
    seen = _seen_buckets(new_df.sparkSession, state_path, exclude_batch=batch_id)
    ok_buckets = (
        _near_bucket_stats(rows, seen)
        .where(F.col("stored_n") + F.col("batch_n") <= max_bucket)
        .select("band", "bucket")
    )
    hit_docs = (
        rows.join(ok_buckets, ["band", "bucket"], "left_semi")
        .select("doc")
        .distinct()
    )
    cur = new_df.join(hit_docs, new_df[id_col] == hit_docs["doc"], "left_anti")
    if within_batch:
        surviving = rows.join(hit_docs, "doc", "left_anti")
        cur = drop_near_duplicates(
            cur, id_col, _candidates_from_banded(surviving, max_bucket)
        )
    return cur


def _near_bucket_stats(rows: DataFrame, seen: DataFrame) -> DataFrame:
    """``(band, bucket, batch_n, stored_n)`` for every stored bucket this
    batch collides with — the shared cap input of
    :func:`incremental_near_dedup` (keeps ``<=``) and
    :func:`incremental_near_dedup_hot_buckets` (reports ``>``)."""
    batch_counts = rows.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("batch_n")
    )
    return batch_counts.join(seen, ["band", "bucket"], "inner")


def incremental_near_dedup_hot_buckets(
    new_df: DataFrame,
    id_col: str,
    state_path: str,
    text_col: str = "text",
    batch_id: str | None = None,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """The stored buckets :func:`incremental_near_dedup` REFUSED to drop
    by (combined committed + this-batch population > ``max_bucket``):
    ``(band, bucket, batch_n, stored_n, n_docs)`` with ``n_docs`` the
    combined total. Empty = the cross-batch pass dropped every
    collision."""
    rows = minhash_banded_rows(
        new_df, id_col, text_col, num_hashes, bands, shingle_n
    ).withColumn("bucket", F.col("bucket").cast("string"))
    seen = _seen_buckets(new_df.sparkSession, state_path, exclude_batch=batch_id)
    return (
        _near_bucket_stats(rows, seen)
        .withColumn("n_docs", F.col("stored_n") + F.col("batch_n"))
        .where(F.col("n_docs") > max_bucket)
    )


def commit_seen_buckets(
    kept_df: DataFrame,
    id_col: str,
    state_path: str,
    text_col: str = "text",
    batch_id: str | None = None,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> None:
    """Append the kept batch's ``(band, bucket, n_docs)`` rows (``n_docs``
    = kept docs of this batch in the bucket, the population the hot-bucket
    cap needs), stamped with ``batch_id`` for retry exclusion — the
    near-dup analog of :func:`commit_seen_fingerprints` (same output-first
    ordering; duplicate appends of a batch are collapsed by
    :func:`_seen_buckets`'s per-batch max). Compact growth with
    :func:`compact_bucket_store`."""
    (
        minhash_banded_rows(kept_df, id_col, text_col, num_hashes, bands, shingle_n)
        .groupBy("band", F.col("bucket").cast("string").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .select(
            "band",
            "bucket",
            "n_docs",
            F.lit(batch_id).cast("string").alias("batch_id"),
        )
        .write.mode("append")
        .parquet(state_path)
    )


def compact_bucket_store(spark, state_path: str) -> None:
    """Rewrite the bucket store with one row per (band, bucket) —
    ``n_docs`` = the retry-idempotent population sum :func:`_seen_buckets`
    would compute, ``batch_id`` preserved only for single-batch buckets
    (multi-batch or legacy-NULL collapses to NULL: seen regardless of
    which batch re-runs — the same retry-exclusion semantics as
    :func:`compact_fingerprint_store`). Same local-FS directory swap; on
    object stores write a fresh store path instead."""
    store = spark.read.option("mergeSchema", "true").parquet(state_path)
    if "batch_id" not in store.columns:
        store = store.withColumn("batch_id", F.lit(None).cast("string"))
    if "n_docs" not in store.columns:
        store = store.withColumn("n_docs", F.lit(1).cast("bigint"))
    per_batch = store.groupBy("band", "bucket", "batch_id").agg(
        F.max(F.coalesce(F.col("n_docs"), F.lit(1))).alias("_n")
    )
    compacted = (
        per_batch.groupBy("band", "bucket")
        .agg(
            F.sum("_n").cast("bigint").alias("n_docs"),
            F.count_distinct("batch_id").alias("_nb"),  # NULLs not counted
            F.max(F.col("batch_id").isNull().cast("int")).alias("_has_null"),
            F.min("batch_id").alias("_b"),
        )
        .select(
            "band",
            "bucket",
            "n_docs",
            F.when((F.col("_nb") == 1) & (F.col("_has_null") == 0), F.col("_b"))
            .otherwise(F.lit(None).cast("string"))
            .alias("batch_id"),
        )
    )
    _swap_store(compacted, state_path)


# --------------------------------------------------------------------------
# corpus-level line dedup (C4-style boilerplate removal) and benchmark
# decontamination (n-gram overlap with held-out eval sets) — both standard,
# publicly documented web-pipeline passes (C4/T5 paper §2.2; GPT-3 paper
# appendix C uses 13-gram overlap).
# --------------------------------------------------------------------------


def _doc_lines(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, pos, line, lnorm): newline-split lines with their position —
    the shared base of the line-dedup family. ``lnorm`` is the trimmed
    line; position is kept so text can be rebuilt in order."""
    return (
        _spread(df)
        .select(
            F.col(id_col).alias("doc"),
            F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias(
                "pos", "line"
            ),
        )
        .withColumn("lnorm", F.trim("line"))
    )


def duplicate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    min_line_chars: int = 15,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-corpus duplicated lines (C4 boilerplate detection):
    ``(line_md5, line, n_occurrences, n_docs)`` for every trimmed line of
    >= ``min_line_chars`` chars appearing in >= ``min_docs`` DISTINCT
    docs. md5 (not xxhash64) so SQL oracles reproduce it bit-for-bit.
    The shuffle carries (line_md5, doc) — never full texts — and the
    result is tiny relative to the corpus (boilerplate is heavy-tailed)."""
    eligible = _doc_lines(df, id_col, text_col).where(
        F.length("lnorm") >= min_line_chars
    )
    return (
        eligible.groupBy(F.md5("lnorm").alias("line_md5"))
        .agg(
            F.min("lnorm").alias("line"),  # identical within the md5 group
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc").alias("n_docs"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def _kept_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_line_chars: int,
    min_docs: int,
) -> DataFrame:
    """Lines surviving C4-style removal: a line is dropped from EVERY doc
    when its trimmed form is >= min_line_chars and appears in >= min_docs
    distinct docs; short lines (headings, blanks) always survive. The dup
    set is small → AQE broadcasts the anti-join side."""
    lines = _doc_lines(df, id_col, text_col)
    dups = duplicate_lines(df, id_col, text_col, min_line_chars, min_docs).select(
        "line_md5"
    )
    eligible = F.length("lnorm") >= min_line_chars
    keyed = lines.withColumn(
        "_m", F.when(eligible, F.md5("lnorm")).otherwise(F.lit(None))
    )
    return keyed.join(dups, keyed["_m"] == dups["line_md5"], "left_anti").drop("_m")


def line_dedup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    min_line_chars: int = 15,
    min_docs: int = 2,
) -> DataFrame:
    """Per-doc effect of line dedup: ``(doc, n_lines, n_kept)`` — computed
    on the lines frame itself (no string rebuild ambiguity), same internals
    as :func:`drop_duplicate_lines`."""
    lines = _doc_lines(df, id_col, text_col)
    kept = _kept_lines(df, id_col, text_col, min_line_chars, min_docs)
    n_all = lines.groupBy("doc").agg(F.count(F.lit(1)).alias("n_lines"))
    n_kept = kept.groupBy("doc").agg(F.count(F.lit(1)).alias("n_kept"))
    return n_all.join(n_kept, "doc", "left").select(
        "doc", "n_lines", F.coalesce("n_kept", F.lit(0)).alias("n_kept")
    )


def drop_duplicate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    min_line_chars: int = 15,
    min_docs: int = 2,
) -> DataFrame:
    """C4-style boilerplate removal: rebuild ``text_col`` with cross-corpus
    duplicated lines deleted (order preserved via the kept positions); all
    other columns pass through. A doc whose every line was boilerplate ends
    up with empty text — downstream length filters (gopher_pass) are the
    intended next stage, mirroring the published pipeline order."""
    kept = _kept_lines(df, id_col, text_col, min_line_chars, min_docs)
    return _rebuild_text_from_kept(df, id_col, text_col, kept, "line", "\n")


def _rebuild_text_from_kept(
    df: DataFrame,
    id_col: str,
    text_col: str,
    kept: DataFrame,
    unit_col: str,
    sep: str,
) -> DataFrame:
    """Rebuild ``text_col`` from the surviving (doc, pos, unit) rows in
    position order, joined with ``sep`` — shared by the line- and
    paragraph-level drops."""
    rebuilt = (
        kept.groupBy("doc")
        .agg(F.array_sort(F.collect_list(F.struct("pos", unit_col))).alias("_ls"))
        .select(
            # reserved alias: joining back on a column literally named 'doc'
            # is AMBIGUOUS when df itself has a 'doc' column — which is this
            # library's own id convention (round-2 review finding)
            F.col("doc").alias("_ldd_doc"),
            F.array_join(F.transform("_ls", lambda s: s[unit_col]), sep).alias("_new"),
        )
    )
    out = df.join(rebuilt, df[id_col] == rebuilt["_ldd_doc"], "left")
    return out.select(
        *[
            F.coalesce("_new", F.lit("")).alias(text_col)
            if c == text_col
            else F.col(c)
            for c in df.columns
        ]
    )


# --------------------------------------------------------------------------
# Paragraph-level cross-corpus dedup (the Dolma/RefinedWeb granularity —
# between C4's line level and whole-document MinHash). Paragraphs are
# blank-line-separated blocks; the dedup key is the WHITESPACE-NORMALIZED
# paragraph (runs collapsed to one space, edges trimmed) so re-wrapped
# copies of the same boilerplate block still match. Same scale shape as
# the line family: the shuffle carries (para_md5, doc), never full texts.
# --------------------------------------------------------------------------

# the ONE cross-engine whitespace class (Java's \s includes \x0B, RE2's
# does not) lives in textops; re-hardcoding it here risked silent drift
# between line- and paragraph-level normalization (review finding)
_PARA_WS = _TEXT_WS + "+"


def _doc_paragraphs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, pos, para, pnorm): blank-line-split paragraphs with position.
    ``pnorm`` collapses internal whitespace runs to single spaces and
    trims (after collapsing, edges can only be 0x20, so trim() is exact
    — and identical in DuckDB)."""
    return (
        _spread(df)
        .select(
            F.col(id_col).alias("doc"),
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), r"\n{2,}")
            ).alias("pos", "para"),
        )
        .withColumn("pnorm", F.trim(F.regexp_replace("para", _PARA_WS, " ")))
    )


def duplicate_paragraphs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    min_para_chars: int = 30,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-corpus duplicated paragraphs: ``(para_md5, paragraph,
    n_occurrences, n_docs)`` for every normalized paragraph of >=
    ``min_para_chars`` chars appearing in >= ``min_docs`` distinct docs.
    md5 so SQL oracles reproduce it bit-for-bit."""
    eligible = _doc_paragraphs(df, id_col, text_col).where(
        F.length("pnorm") >= min_para_chars
    )
    return (
        eligible.groupBy(F.md5("pnorm").alias("para_md5"))
        .agg(
            F.min("pnorm").alias("paragraph"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc").alias("n_docs"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def drop_duplicate_paragraphs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    min_para_chars: int = 30,
    min_docs: int = 2,
) -> DataFrame:
    """Rebuild ``text_col`` with cross-corpus duplicated paragraphs
    deleted (order preserved, blocks re-joined with a blank line); short
    paragraphs always survive. The dup set is small → AQE broadcasts the
    anti-join side; a fully-boilerplate doc ends up empty, for the
    downstream length filter to drop (published pipeline order)."""
    paras = _doc_paragraphs(df, id_col, text_col)
    dups = duplicate_paragraphs(
        df, id_col, text_col, min_para_chars, min_docs
    ).select("para_md5")
    eligible = F.length("pnorm") >= min_para_chars
    keyed = paras.withColumn(
        "_m", F.when(eligible, F.md5("pnorm")).otherwise(F.lit(None))
    )
    kept = keyed.join(dups, keyed["_m"] == dups["para_md5"], "left_anti").drop("_m")
    return _rebuild_text_from_kept(df, id_col, text_col, kept, "para", "\n\n")


def dedup_lines_within_doc(text: Column) -> Column:
    """Remove REPEATED lines within a single document, keeping the first
    occurrence in order (the intra-document half of the C4 line pass —
    nav menus and footers repeat inside a page long before they repeat
    across pages). Pure narrow HOF: ONE ``aggregate`` builds the
    first-occurrence array; the lambda references only its own
    accumulator/element variables, so the document split is evaluated
    once (the earlier ``array_position(lines, x)`` form embedded the
    split subtree in the per-line lambda — HOF subtrees are not CSE'd, so
    a 10k-line doc re-split its full text 10k times; round-2 review
    finding, same class as the 37× minhash lesson). Still O(lines²)
    element comparisons worst-case, but no repeated text splitting; no
    shuffle, no state."""
    lines = F.split(F.coalesce(text, F.lit("")), "\n")
    kept = F.aggregate(
        lines,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(F.array_contains(acc, x), acc).otherwise(
            F.concat(acc, F.array(x))
        ),
    )
    return F.array_join(kept, "\n")


def contamination_matches(
    df: DataFrame,
    id_col: str,
    benchmark: DataFrame,
    text_col: str = "text",
    bench_text_col: str = "text",
    ngram: int = 13,
) -> DataFrame:
    """Benchmark decontamination scan (the GPT-3-style 13-gram overlap
    test): ``(doc, n_matched_ngrams)`` — how many DISTINCT word n-grams of
    each doc occur anywhere in the benchmark corpus. Benchmark n-gram sets
    are megabytes even for large eval suites, so the join side is tiny and
    AQE broadcasts it: the corpus is never shuffled, one narrow pass.
    Benchmark documents present in ``df`` match themselves — exclude them
    upstream or ignore their rows, per pipeline policy."""
    bench_grams = (
        benchmark.select(F.explode(shingles(F.col(bench_text_col), ngram)).alias("g"))
        .select(F.md5("g").alias("gm"))
        .distinct()
    )
    doc_grams = _spread(df).select(
        F.col(id_col).alias("doc"),
        F.explode(shingles(F.col(text_col), ngram)).alias("g"),
    ).select("doc", F.md5("g").alias("gm"))
    return (
        doc_grams.join(F.broadcast(bench_grams), "gm")
        .groupBy("doc")
        .agg(F.countDistinct("gm").alias("n_matched_ngrams"))
    )


def drop_contaminated(
    df: DataFrame,
    id_col: str,
    benchmark: DataFrame,
    text_col: str = "text",
    bench_text_col: str = "text",
    ngram: int = 13,
    max_matches: int = 0,
) -> DataFrame:
    """Remove docs overlapping the benchmark by more than ``max_matches``
    distinct n-grams (0 = any overlap contaminates). Left-anti against the
    (small) flagged set — untouched rows are not shuffled."""
    flagged = (
        contamination_matches(df, id_col, benchmark, text_col, bench_text_col, ngram)
        .where(F.col("n_matched_ngrams") > max_matches)
        .select(F.col("doc").alias(id_col))
    )
    return df.join(flagged, id_col, "left_anti")


# --------------------------------------------------------------------------
# duplicate-span (ExactSubstr-style) dedup: Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better" — find token windows that
# occur MORE THAN ONCE anywhere in the corpus and strip every non-first
# occurrence. Token-level (whitespace) rather than byte-level suffix
# arrays: the Spark-natural granularity with the same intent. Inherently
# scale-safe: no pair generation anywhere — the heavy row set is one row
# per token position carrying (doc, pos, 8-byte hash), grouped once.
# --------------------------------------------------------------------------

def _window_hash_rows(
    df: DataFrame, id_col: str, text_col: str, k: int, portable: bool
) -> DataFrame:
    """(doc, pos, whash): one row per 0-based token position that starts a
    full k-token window. ``portable`` keys windows by their md5 hex (DuckDB
    replays it exactly); the default keys by TWO independently-seeded
    xxhash64s (128-bit effective — a single 64-bit key has ~n²/2^65
    birthday collisions at 10^12 windows, each silently deleting a unique
    passage; review finding). The window string is let-bound so it is
    built once per position either way."""
    toks = tokens(F.col(text_col))
    nwin = F.size(toks) - (k - 1)

    if portable:
        def hfn(w):
            return F.md5(w)
    else:
        def hfn(w):
            return F.concat_ws(
                "|",
                F.xxhash64(w).cast("string"),
                F.xxhash64(F.lit(1), w).cast("string"),
            )

    wins = F.when(
        nwin <= 0, F.array().cast("array<struct<pos:int,whash:string>>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), nwin),
            lambda i: F.struct(
                (i - 1).cast("int").alias("pos"),
                F.get(
                    F.transform(
                        F.array(F.concat_ws(" ", F.slice(toks, i, k))), hfn
                    ),
                    0,
                ).alias("whash"),
            ),
        )
    )
    return (
        _spread(df)
        .select(F.col(id_col).alias("doc"), F.explode(wins).alias("w"))
        .select("doc", "w.pos", "w.whash")
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 50,
    portable: bool = False,
) -> DataFrame:
    """Every occurrence of a k-token window that appears >= 2 times in the
    corpus: ``(doc, pos, n_occurrences, is_first)`` — ``is_first`` marks
    the globally first occurrence (min (doc, pos)), the copy
    :func:`remove_duplicate_spans` keeps. One groupBy on the window hash;
    the join back is on the same key (no second shuffle of the corpus)."""
    rows = _window_hash_rows(df, id_col, text_col, k, portable)
    dups = (
        rows.groupBy("whash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(F.struct("doc", "pos")).alias("_first"),
        )
        .where(F.col("n_occurrences") >= 2)
    )
    return rows.join(dups, "whash").select(
        "doc",
        "pos",
        "n_occurrences",
        (
            (F.col("doc") == F.col("_first.doc")) & (F.col("pos") == F.col("_first.pos"))
        ).alias("is_first"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 50,
    keep_first: bool = True,
    portable: bool = False,
) -> DataFrame:
    """ExactSubstr-style cleanup: drop every token covered by a duplicated
    k-window occurrence (non-first occurrences only when ``keep_first``,
    the dedup default — the corpus keeps exactly one copy of each repeated
    passage). Returns ``(doc, clean_text, n_removed_tokens)``.

    Plan: duplicated window starts per doc are collected into one sorted
    int array (bounded by the doc's own token count), then a single
    two-arg ``filter`` lambda keeps token j unless some start p covers it
    (p <= j < p+k). Worst case O(tokens × dup_starts) comparisons per doc
    — same envelope as the documented within-doc line dedup; the corpus
    never shuffles (only (doc, pos) rows do)."""
    spans = duplicate_spans(df, id_col, text_col, k, portable)
    if keep_first:
        spans = spans.where(~F.col("is_first"))
    return _strip_spans(df, id_col, text_col, spans, k)


def _strip_spans(
    df: DataFrame, id_col: str, text_col: str, spans: DataFrame, k: int
) -> DataFrame:
    """Shared span-stripping tail of :func:`remove_duplicate_spans` and
    :func:`mask_contaminated_spans`: given ``spans`` = (doc, pos) window
    starts to remove, drop every covered token and return
    ``(doc, clean_text, n_removed_tokens)``."""
    per_doc = spans.groupBy("doc").agg(
        F.sort_array(F.collect_list("pos")).alias("_dp")
    # the join key gets a private name: an input id column itself named
    # 'doc' (the library's standard) would otherwise make the post-join
    # select AMBIGUOUS_REFERENCE (review finding, reproduced)
    ).withColumnRenamed("doc", "_span_doc")
    toks = tokens(F.col(text_col))
    # let-binding (CLAUDE.md HOF rule): tokenization AND the O(tokens ×
    # dup_starts) filter run ONCE inside one bound struct; clean_text and
    # n_removed_tokens then read struct fields across a projection split
    # (two references to a non-cheap alias are not collapse-inlined)
    bound = F.get(
        F.transform(
            F.array(toks),
            lambda tk: F.get(
                F.transform(
                    F.array(
                        F.filter(
                            tk,
                            lambda x, j: ~F.exists(
                                F.col("_dp"),
                                lambda p: (p <= j) & (j < p + F.lit(k)),
                            ),
                        )
                    ),
                    lambda kt: F.struct(
                        F.array_join(kt, " ").alias("t"),
                        (F.size(tk) - F.size(kt)).cast("bigint").alias("nr"),
                    ),
                ),
                0,
            ),
        ),
        0,
    )
    return (
        df.join(per_doc, df[id_col] == per_doc["_span_doc"], "left")
        .withColumn("_dp", F.coalesce("_dp", F.array().cast("array<int>")))
        .select(F.col(id_col).alias("doc"), bound.alias("_b"))
        .select(
            "doc",
            F.col("_b.t").alias("clean_text"),
            F.col("_b.nr").alias("n_removed_tokens"),
        )
    )


def mask_contaminated_spans(
    df: DataFrame,
    id_col: str,
    benchmark: DataFrame,
    text_col: str = "text",
    bench_text_col: str = "text",
    k: int = 13,
    portable: bool = False,
) -> DataFrame:
    """SPAN-level decontamination: strip only the k-token spans a doc
    shares with the benchmark corpus, instead of dropping the whole doc
    (:func:`drop_contaminated` is the doc-level variant; GPT-3's appendix
    describes both). Returns ``(doc, clean_text, n_removed_tokens)`` for
    EVERY input doc — untouched docs come back with 0 removed.

    Plan: the benchmark's distinct window hashes (small by definition —
    eval sets are thousands of docs) are broadcast; the corpus's window
    rows semi-join them and the shared :func:`_strip_spans` tail masks the
    covered tokens. The corpus text itself never shuffles."""
    bench_hashes = (
        _window_hash_rows(
            benchmark.select(F.lit(0).alias("_bid"), F.col(bench_text_col)),
            "_bid",
            bench_text_col,
            k,
            portable,
        )
        .select("whash")
        .distinct()
    )
    corpus = _window_hash_rows(df, id_col, text_col, k, portable)
    hits = corpus.join(F.broadcast(bench_hashes), "whash", "left_semi").select(
        "doc", "pos"
    )
    return _strip_spans(df, id_col, text_col, hits, k)


# --------------------------------------------------------------------------
# embedding-cosine near-dup
# --------------------------------------------------------------------------

def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine of two float-array columns — JVM-side zip_with/aggregate."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def _lit_vec(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def brute_force_topk(
    df: DataFrame, vec_col: str, query: list[float], k: int = 10, id_col: str = "vec_id"
) -> DataFrame:
    """Exact top-k by cosine: ``(id, cosine)``. orderBy+limit compiles to
    TakeOrderedAndProject — per-partition top-k then a k-row merge on the
    driver, NOT a global sort shuffle. Math in double (float32 accumulation
    would diverge from double-precision oracles); cosines rounded to 5dp
    per the repo-wide oracle-parity convention."""
    cos = cosine_similarity(F.col(vec_col).cast("array<double>"), _lit_vec(query))
    return (
        df.select(F.col(id_col), F.round(cos, 5).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def hyperplane_bucket(vec: Column, nbits: int = 12, seed: int = 42) -> Column:
    """LSH bucket id: sign bits of <vec, plane_i> for nbits deterministic
    pseudo-random hyperplanes. plane_i[j] = centered hash(i, j, seed) —
    uniform in [-1, 1), reproducible, computed inline (never materialized)."""
    bits = []
    for i in range(nbits):
        # dot product with plane i via aggregate over the vector's indices
        dot = F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.size(vec) - 1),
                lambda x, j: x
                * (
                    (F.pmod(F.xxhash64(F.lit(i), j, F.lit(seed)), F.lit(100000)) / 50000.0)
                    - 1.0
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(2**i))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def embedding_near_duplicates(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95,
    nbits: int = 12, seed: int = 42,
) -> DataFrame:
    """Near-dup pairs by embedding cosine >= threshold.

    Scale path: random-hyperplane LSH — ``nbits`` sign bits from
    deterministic pseudo-random planes bucket the vectors; exact cosine is
    verified only within buckets. High-cosine pairs agree on most
    hyperplane signs, so collision probability ≈ (1 - θ/π)^nbits.
    """
    keyed = df.select(F.col(id_col).alias("doc"), F.col(vec_col).alias("vec"))
    bucketed = keyed.withColumn("bucket", hyperplane_bucket(F.col("vec"), nbits, seed))
    a = bucketed.select("bucket", F.col("doc").alias("id_a"), F.col("vec").alias("va"))
    b = bucketed.select("bucket", F.col("doc").alias("id_b"), F.col("vec").alias("vb"))
    return (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        # threshold the UNROUNDED cosine (rounding first would admit pairs
        # up to 5e-7 below threshold and diverge from the exact oracle);
        # round only in the output projection
        .withColumn("_cos", cosine_similarity(F.col("va"), F.col("vb")))
        .where(F.col("_cos") >= threshold)
        .select("id_a", "id_b", F.round("_cos", 6).alias("cosine"))
        .dropDuplicates(["id_a", "id_b"])
    )


# --------------------------------------------------------------------------
# SemDeDup — semantic deduplication via embedding clusters (Abbas et al.
# 2023, "SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication"). Cluster the embedding space (any trained centroid set
# serves), then look for near-duplicate pairs ONLY within a cluster — the
# quadratic pair problem shrinks from O(n²) to Σ O(c²) with c bounded by
# ``max_cluster``.
# Keep policy per the paper: within a duplicate group, the item FARTHEST
# from its centroid survives (low centroid-cosine first), preserving the
# cluster's outer shell where the semantic diversity lives.
# --------------------------------------------------------------------------

def semdedup_assign(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each vector to its nearest centroid by ROUNDED (5dp) cosine:
    ``(doc, cluster, centroid_cos, _vec)``. Rounding before the argmax
    makes the assignment engine-portable (both engines compare the same
    5dp values — raw float sums may differ in the last ulp across
    summation implementations); ties on the rounded cosine break to the
    SMALLEST centroid index (array_position returns the first maximum —
    the oracle's ``ORDER BY cc DESC, c`` replays it). All k cosines are
    computed once into a let-bound scores array (HOF subtrees are not
    CSE'd across output columns — CLAUDE.md)."""
    cents = F.array(*[_lit_vec(c) for c in centroids])
    scores = F.transform(
        cents, lambda c: F.round(cosine_similarity(F.col("_vec"), c), 5)
    )
    bound = df.select(
        F.col(id_col).alias("doc"), F.col(vec_col).cast("array<double>").alias("_vec")
    ).withColumn("_scores", scores.cast("array<double>"))
    cluster = (
        F.array_position(F.col("_scores"), F.array_max(F.col("_scores"))) - 1
    ).cast("int")
    return bound.select(
        "doc",
        cluster.alias("cluster"),
        F.array_max("_scores").alias("centroid_cos"),
        "_vec",
    )


def semdedup(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    max_cluster: int = 2000,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Semantic dedup verdict per vector: ``(doc, cluster, centroid_cos,
    keep)``. Within each cluster, members are ranked by (centroid_cos ASC,
    doc ASC) — outliers first, the paper's keep-the-farthest policy — and a
    member is DROPPED when any earlier-ranked member is within
    ``threshold`` cosine of it (upper-triangular masking, exactly the
    published implementation's semantics; greedy chains are masked against
    ALL earlier members, kept or not).

    Scale shape: the pair join is a self-join on ``cluster`` — never a
    cross join — and clusters larger than ``max_cluster`` are REFUSED
    (members pass through with keep=true) rather than silently exploded
    into O(c²) pairs; :func:`semdedup_hot_clusters` is the audit surface
    (empty = full coverage; non-empty = retrain with larger k, the paper's
    own remedy for fat clusters). Cluster sizes ride the same window
    Exchange as the ranking (window-count gate — no separate agg+join),
    and the k-cosine assignment is PERSISTED when computed here: the plan
    references it from four branches (two self-join sides, the gate, the
    final verdict join), which would otherwise recompute n×k cosines 4×
    (review finding). Pass ``assigned`` (a cached/checkpointed
    :func:`semdedup_assign` output) to control its lifecycle yourself —
    the run-dedup-then-audit workflow should share one assignment across
    both calls. Pair cosines are compared ROUNDED (5dp) on both engines —
    same portability contract as the assignment."""
    if assigned is None:
        assigned = semdedup_assign(df, vec_col, centroids, id_col)
        assigned.persist()  # LRU-evictable; caller passes `assigned` to manage
    from pyspark.sql import Window

    w_cnt = Window.partitionBy("cluster")
    w_ord = Window.partitionBy("cluster").orderBy(
        F.col("centroid_cos").asc(), F.col("doc").asc()
    )
    ranked = (
        assigned.withColumn("_n", F.count(F.lit(1)).over(w_cnt))
        .withColumn("_rank", F.row_number().over(w_ord))
        .where(F.col("_n") <= max_cluster)
    )
    a = ranked.select(
        "cluster", F.col("_rank").alias("_ra"), F.col("_vec").alias("_va")
    )
    b = ranked.select(
        "cluster",
        F.col("_rank").alias("_rb"),
        F.col("doc").alias("_db"),
        F.col("_vec").alias("_vb"),
    )
    pc = F.round(cosine_similarity(F.col("_va"), F.col("_vb")), 5)
    dropped = (
        a.join(b, "cluster")
        .where(F.col("_ra") < F.col("_rb"))
        .where(pc >= F.lit(threshold))
        .select(F.col("_db").alias("doc"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return assigned.join(dropped, "doc", "left").select(
        "doc", "cluster", "centroid_cos", F.col("_dup").isNull().alias("keep")
    )


def semdedup_hot_clusters(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    max_cluster: int = 2000,
    id_col: str = "vec_id",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Audit for :func:`semdedup`'s cap: ``(cluster, n_members)`` for every
    cluster that was refused (n_members > max_cluster). Empty = the dedup
    covered every vector; non-empty = increase k (more, smaller clusters)
    or raise the cap deliberately. Pass the same ``assigned`` you gave
    :func:`semdedup` to avoid recomputing the k-cosine assignment."""
    if assigned is None:
        assigned = semdedup_assign(df, vec_col, centroids, id_col)
    return (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .where(F.col("n_members") > max_cluster)
    )


def select_canonical(
    clusters: DataFrame,
    scored: DataFrame,
    id_col: str = "doc",
    score_col: str = "score",
) -> DataFrame:
    """The keep-policy step after near-dup clustering: per cluster, keep
    the HIGHEST-``score_col`` member (ties → smallest id), drop the rest —
    ``(id, cluster, keep)``. "Keep the best copy" (longest text, highest
    quality-model score) is what published pipelines run where a naive
    dedup keeps an arbitrary first-seen copy.

    ``clusters`` is :func:`near_duplicate_clusters` /
    :func:`alternating_star_clusters` output (``id_col``, cluster);
    ``scored`` must carry ``id_col`` + ``score_col`` for every clustered id
    (inner join — a missing score silently drops the doc from the verdict,
    so score BEFORE clustering). One shuffle on ``cluster``; per-cluster
    sizes are bounded by the pair-generation caps upstream (minhash/
    jaccard/simhash hot-bucket refusal), so no single window group can
    explode."""
    from pyspark.sql import Window

    joined = clusters.join(
        scored.select(F.col(id_col), F.col(score_col).alias("_score")), id_col
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("_score").desc(), F.col(id_col).asc()
    )
    return joined.withColumn("keep", F.row_number().over(w) == 1).select(
        id_col, "cluster", "keep"
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 5,
    block_chars: int = 4,
    max_distance: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood (SNM) entity-resolution candidates: sort rows
    by a normalized key, slide a window of size `window`, and emit every
    in-window pair — the classic record-linkage blocking alternative to
    LSH (Hernandez & Stolfo SIGMOD'95). With `max_distance` set, pairs
    are verified by exact Levenshtein edit distance (identical built-in
    in Spark and DuckDB — the rare string verifier that is
    oracle-exact). Output: ``(id_a, id_b, key_a, key_b, distance)``
    with id_a < id_b on the sort order.

    Scale shape: rows hash-partition by a `block_chars`-char key prefix
    and sort only WITHIN the block, so there is no global sort and no
    single-task window; pair generation is an array of `window-1`
    ``lead`` structs exploded in place — linear in rows·window, never a
    rank-range self-join (which re-shuffles and explodes on hot
    blocks). The price is SNM's standard one: pairs straddling a block
    boundary are missed — production runs do multi-pass SNM with 2-3
    different key orderings (e.g. name, reversed name, zip+street) and
    union the pair sets; each pass is this function.

    Window ties (equal keys) are ordered by id, so the pair set is
    deterministic and engine-portable.
    """
    from pyspark.sql import Window

    if window < 2:
        raise ValueError("sorted_neighborhood_pairs: window must be >= 2")
    clash = {"_blk", "_nbr", "_p"} & set(df.columns)
    if clash:
        raise ValueError(
            f"sorted_neighborhood_pairs: column(s) {sorted(clash)} collide "
            "with internal names; rename them first"
        )
    base = df.where(F.col(key_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.col(key_col).alias("_key"),
        F.substring(F.col(key_col), 1, block_chars).alias("_blk"),
    )
    w = Window.partitionBy("_blk").orderBy(F.col("_key").asc(), F.col("_id").asc())
    nbrs = F.array(
        *[
            F.struct(
                F.lead("_id", i).over(w).alias("id"),
                F.lead("_key", i).over(w).alias("key"),
            )
            for i in range(1, window)
        ]
    )
    pairs = (
        base.withColumn("_nbr", nbrs)
        .select(
            F.col("_id").alias("id_a"),
            F.col("_key").alias("key_a"),
            F.explode("_nbr").alias("_p"),
        )
        .where(F.col("_p.id").isNotNull())
        .select(
            "id_a",
            F.col("_p.id").alias("id_b"),
            "key_a",
            F.col("_p.key").alias("key_b"),
        )
        .withColumn("distance", F.levenshtein("key_a", "key_b"))
    )
    if max_distance is not None:
        pairs = pairs.where(F.col("distance") <= max_distance)
    return pairs


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (PPJoin family,
    Xiao et al. WWW'08) — same output contract as :func:`jaccard_pairs`
    (``(id_a, id_b, jaccard)`` with jaccard >= threshold) but the
    inverted index holds only each document's PREFIX: with shingles in
    a global rarest-first canonical order, two sets can reach Jaccard t
    only if they collide inside their first ``n − ceil(t·n) + 1``
    shingles — so indexing those alone is LOSSLESS (no cap, no audit
    needed; the filter is a theorem, not a heuristic), and the
    self-join side shrinks by ~t (t=0.8 indexes ~20% of postings, and
    the rarest 20% at that — the frequent boilerplate shingles that
    blow up posting lists sort LAST and rarely enter any prefix, which
    is the real scale win over the capped full index).

    Plan: one shuffle to rank shingles by global frequency (freq asc,
    shingle asc — deterministic), one per-doc window for prefix ranks,
    the prefix-only self-join for candidates, then exact verification
    by ``array_intersect`` over the two full shingle arrays (bounded by
    the candidate count, not the corpus). ``ceil(t·n)`` is integer:
    ``(t_micro·n + 999999) div 10⁶``.
    """
    from pyspark.sql import Window

    t_micro = int(round(threshold * 1_000_000))
    base = _spread(df).select(
        F.col(id_col).alias("doc"),
        F.array_sort(shingles(F.col(text_col), shingle_n)).alias("sh"),
    ).where(F.size("sh") > 0)
    # persisted because three plan branches read it (index build and
    # both verification sides); exposed as result._ppjoin_base so a
    # long-lived session can .unpersist() after the result materializes
    base = base.persist()
    ex = base.select("doc", F.explode("sh").alias("shingle"))
    freq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("_f"))
    ranked = (
        ex.join(freq, "shingle")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("doc").orderBy(
                    F.col("_f").asc(), F.col("shingle").asc()
                )
            ),
        )
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("doc")))
    )
    prefix = ranked.where(
        F.col("_rn")
        <= F.col("_n")
        - F.expr(f"(_n * {t_micro} + 999999) div 1000000")
        + 1
    ).select("shingle", "doc")
    cand = (
        prefix.alias("l")
        .join(prefix.alias("r"), "shingle")
        .where(F.col("l.doc") < F.col("r.doc"))
        .select(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
        .distinct()
    )
    va = base.select(F.col("doc").alias("id_a"), F.col("sh").alias("_sa"))
    vb = base.select(F.col("doc").alias("id_b"), F.col("sh").alias("_sb"))
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    out = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("_i", inter)
        .withColumn(
            "jaccard",
            F.col("_i") / (F.size("_sa") + F.size("_sb") - F.col("_i")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    out._ppjoin_base = base  # caller-managed cache lifetime
    return out


# --------------------------------------------------------------------------
# Winnowing fingerprints (MOSS)
# --------------------------------------------------------------------------

def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    max_chars: int = 20000,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): slide a window of ``window``
    consecutive char-``k``-gram hashes and select the RIGHTMOST minimal
    hash in each window. Returns one row per distinct selected
    fingerprint, ``(doc, pos, fp_hash)`` with ``pos`` the 1-based char
    offset of the selected k-gram — positions make matches localizable
    (which passage is shared), unlike MinHash's set-level signature.

    The local-algorithm guarantee: any substring match of length
    >= ``window + k - 1`` chars shares at least one fingerprint, and the
    expected density is 2/(window+1) of all k-grams — a tunable
    sample-rate with a hard recall floor, which no random shingle
    sampling gives.

    Engine-portable: the base hash is :func:`portable_hash64` (md5
    prefix), so DuckDB replays the exact fingerprint set.

    Scale shape: everything up to the final explode is a NARROW per-doc
    projection (two materialized array columns — the k-gram hash array
    is built ONCE as a column, never inlined into the window lambda:
    the HOF-no-CSE lesson); per-window selection is one O(window)
    ``aggregate`` pass carrying (min, rightmost-pos) in the accumulator.
    ``max_chars`` prefix-caps pathological documents (disclosed cap —
    same convention as char_entropy); at the default 20k chars a row
    costs ~20k·window accumulator steps, all JVM codegen.
    """
    from xmlschemavalidator_spark.textops import portable_hash64

    if k < 1 or window < 1:
        raise ValueError(f"winnowing: need k >= 1 and window >= 1, got {k}/{window}")
    for c in ("_wt", "_whs"):
        if c in df.columns:
            raise ValueError(
                f"winnowing_fingerprints: column '{c}' collides with an "
                "internal name; rename it first"
            )
    t = F.substring(F.coalesce(F.col(text_col), F.lit("")), 1, max_chars)
    base = _spread(df).select(F.col(id_col).alias("doc"), t.alias("_wt"))
    n = F.length("_wt") - (k - 1)
    grams = base.withColumn(
        "_whs",
        F.when(n <= 0, F.array().cast("array<bigint>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: portable_hash64(F.col("_wt").substr(i, F.lit(k))),
            )
        ),
    )
    # per-window (rightmost-min pos, min hash) in ONE aggregate pass;
    # j and the accumulator are the only lambda references — nothing
    # expensive is re-evaluated per element
    sel = (
        "CASE WHEN size(_whs) = 0 THEN array() "
        f"WHEN size(_whs) < {window} THEN array(_winnow_one(_whs, 1, size(_whs))) "
        f"ELSE transform(sequence(1, size(_whs) - {window - 1}), "
        f"               j -> _winnow_one(_whs, j, {window})) END"
    )
    one = (
        "aggregate(slice({hs}, {j}, {w}), "
        "struct(CAST(NULL AS BIGINT) AS mn, CAST(0 AS INT) AS pos, CAST(0 AS INT) AS idx), "
        "(acc, x) -> struct("
        "  CASE WHEN acc.mn IS NULL OR x <= acc.mn THEN x ELSE acc.mn END AS mn, "
        "  CASE WHEN acc.mn IS NULL OR x <= acc.mn THEN CAST({j} + acc.idx AS INT) ELSE acc.pos END AS pos, "
        "  CAST(acc.idx + 1 AS INT) AS idx), "
        "acc -> struct(acc.pos AS pos, acc.mn AS fp_hash))"
    )
    sel = sel.replace("_winnow_one(_whs, 1, size(_whs))",
                      one.format(hs="_whs", j="1", w="size(_whs)"))
    sel = sel.replace(f"_winnow_one(_whs, j, {window})",
                      one.format(hs="_whs", j="j", w=window))
    return (
        grams.select("doc", F.explode(F.array_distinct(F.expr(sel))).alias("_f"))
        .select(
            "doc",
            F.col("_f.pos").alias("pos"),
            F.col("_f.fp_hash").alias("fp_hash"),
        )
    )


def winnowing_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_posting: int = 1000,
    max_chars: int = 20000,
) -> DataFrame:
    """Near-dup / shared-passage candidate pairs from winnowing
    fingerprints: ``(id_a, id_b, n_shared_fps)`` for pairs sharing at
    least ``min_shared`` distinct fingerprint VALUES. The MOSS pairing
    step: because winnowing is local, two docs sharing any passage of
    >= window+k-1 chars MUST meet here — a recall guarantee MinHash
    bands only give probabilistically.

    Same inverted-index shape as :func:`jaccard_pairs`: distinct
    (doc, fp_hash) postings, hot fingerprints above ``max_posting``
    excluded (boilerplate guard — audit with
    :func:`winnowing_hot_fingerprints`), ordered self-join inside
    posting lists only, never an uncapped all-pairs.
    """
    fps = winnowing_fingerprints(df, id_col, text_col, k, window, max_chars)
    posts = fps.select("doc", "fp_hash").distinct()
    hot = posts.groupBy("fp_hash").agg(F.count(F.lit(1)).alias("pl")).where(
        F.col("pl") > max_posting
    )
    cold = posts.join(F.broadcast(hot.select("fp_hash")), "fp_hash", "left_anti")
    a = cold.select("fp_hash", F.col("doc").alias("id_a"))
    b = cold.select("fp_hash", F.col("doc").alias("id_b"))
    return (
        a.join(b, on="fp_hash")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .where(F.col("n_shared_fps") >= min_shared)
    )


def winnowing_hot_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    max_posting: int = 1000,
    max_chars: int = 20000,
) -> DataFrame:
    """Audit surface for :func:`winnowing_candidate_pairs`' posting cap:
    ``(fp_hash, pl)`` for every fingerprint whose posting list exceeds
    ``max_posting`` (shared boilerplate passages) — the no-silent-caps
    rule."""
    fps = winnowing_fingerprints(df, id_col, text_col, k, window, max_chars)
    posts = fps.select("doc", "fp_hash").distinct()
    return (
        posts.groupBy("fp_hash")
        .agg(F.count(F.lit(1)).alias("pl"))
        .where(F.col("pl") > max_posting)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.9,
    max_posting: int = 1000,
) -> DataFrame:
    """Directed shingle-CONTAINMENT pairs: ``(src_id, dst_id,
    containment)`` where ``containment = |src ∩ dst| / |src| >=
    threshold`` — the asymmetric near-dup semantics Jaccard misses: a
    tweet quoted verbatim inside a long article has Jaccard ~0.02 but
    containment ~1.0 w.r.t. the tweet (Broder 1997 separates the two
    resemblance measures for exactly this case; quote/excerpt detection
    and subset-dedup key on containment).

    Same capped inverted-index shape as :func:`jaccard_pairs` — one
    index build serves BOTH directions of every colliding pair (the
    intersection is symmetric; only the |src| denominator differs), so
    the directed output costs no extra join. Hot shingles above
    ``max_posting`` are excluded from intersection AND sizes (exact
    containment over the capped shingle universe; audit with
    :func:`jaccard_hot_shingles` at the same parameters). Docs whose
    every shingle is hot (capped-universe size 0) cannot assert
    containment and are absent — disclosed, not silent.
    """
    base = _spread(df).select(
        F.col(id_col).alias("doc"), shingles(F.col(text_col), shingle_n).alias("sh")
    )
    exploded = base.select("doc", F.explode("sh").alias("shingle"))
    hot = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("pl")).where(
        F.col("pl") > max_posting
    )
    cold = exploded.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    a = cold.select(F.col("shingle"), F.col("doc").alias("id_a"))
    b = cold.select(F.col("shingle"), F.col("doc").alias("id_b"))
    common = (
        a.join(b, on="shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cold_sizes = cold.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = cold_sizes.select(F.col("doc").alias("id_a"), F.col("n_sh").alias("na"))
    sb = cold_sizes.select(F.col("doc").alias("id_b"), F.col("n_sh").alias("nb"))
    both = common.join(sa, "id_a").join(sb, "id_b")
    fwd = both.select(
        F.col("id_a").alias("src_id"),
        F.col("id_b").alias("dst_id"),
        (F.col("common") / F.col("na")).alias("containment"),
    )
    rev = both.select(
        F.col("id_b").alias("src_id"),
        F.col("id_a").alias("dst_id"),
        (F.col("common") / F.col("nb")).alias("containment"),
    )
    return (
        fwd.unionByName(rev)
        .where(F.col("containment") >= threshold)
        .select("src_id", "dst_id", F.round("containment", 6).alias("containment"))
    )


# --------------------------------------------------------------------------
# q-gram count-filtered edit-distance similarity join
# --------------------------------------------------------------------------

def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_distance: int = 1,
    q: int = 2,
    max_posting: int = 1000,
) -> DataFrame:
    """Edit-distance similarity JOIN (Gravano et al. VLDB'01's q-gram
    count filter + exact verification): ``(id_a, id_b, distance)`` for
    every pair of strings within Levenshtein distance ``max_distance``
    — typo-clustering / fuzzy entity matching at corpus shape, where
    Soundex blocks phonetically and SNM windows a sort order, this one
    carries a PROOF: one edit operation destroys at most ``q`` q-grams,
    so a pair within distance d shares a q-gram BAG intersection of at
    least ``max(L_a, L_b) − q + 1 − q·d`` — any pair failing the count
    filter is provably farther than d, making candidate generation
    lossless (given the two disclosed bounds below). Survivors are
    verified by exact ``levenshtein`` — the same DP integer in Spark
    and DuckDB, the cross-engine contract SNM established.

    Disclosed bounds: (1) strings shorter than ``q·(max_distance+1)``
    are EXCLUDED (their count threshold would be < 1, and a pair
    sharing zero grams can never be generated by a gram join — routing
    them through the index would be silently lossy, so they are
    refused instead); (2) grams whose posting list exceeds
    ``max_posting`` are dropped from counting — above the cap the
    filter may reject a true pair, the same cap-vs-recall trade every
    inverted-index operator here audits.

    Scale shape: bag counts collapse map-side ((id, gram) groupBy);
    the pair join runs on capped posting lists only; the length and
    count filters run BEFORE the verify join brings the strings back,
    so full strings travel only for surviving candidates.
    """
    if max_distance < 1 or q < 1:
        raise ValueError(
            f"edit_distance_pairs: need max_distance >= 1 and q >= 1, "
            f"got {max_distance}/{q}"
        )
    min_len = q * (max_distance + 1)
    s = F.col(str_col)
    base = (
        _spread(df)
        .where(s.isNotNull() & (F.length(s) >= min_len))
        .select(F.col(id_col).alias("doc"), s.alias("_s"), F.length(s).alias("_len"))
    )
    grams = base.select(
        "doc",
        "_len",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("_len") - (q - 1)),
                lambda i: F.col("_s").substr(i, F.lit(q)),
            )
        ).alias("gram"),
    )
    counts = grams.groupBy("doc", "_len", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    hot = counts.groupBy("gram").agg(F.count(F.lit(1)).alias("pl")).where(
        F.col("pl") > max_posting
    )
    cold = counts.join(F.broadcast(hot.select("gram")), "gram", "left_anti")
    a = cold.select(
        "gram",
        F.col("doc").alias("id_a"),
        F.col("_len").alias("la"),
        F.col("cnt").alias("ca"),
    )
    b = cold.select(
        "gram",
        F.col("doc").alias("id_b"),
        F.col("_len").alias("lb"),
        F.col("cnt").alias("cb"),
    )
    cand = (
        a.join(b, "gram")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= max_distance)
        )
        .groupBy("id_a", "id_b", "la", "lb")
        .agg(F.sum(F.least("ca", "cb")).alias("common"))
        .where(
            F.col("common")
            >= F.greatest("la", "lb") - (q - 1) - q * max_distance
        )
    )
    sa = base.select(F.col("doc").alias("id_a"), F.col("_s").alias("_sa"))
    sb = base.select(F.col("doc").alias("id_b"), F.col("_s").alias("_sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("distance", F.levenshtein("_sa", "_sb"))
        .where(F.col("distance") <= max_distance)
        .select("id_a", "id_b", F.col("distance").cast("int").alias("distance"))
    )


def bbit_minhash_signatures_df(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """b-bit MinHash signatures (Li & König WWW'10) at b=1, k=64:
    ``(doc, sig)`` with the PARITY of each of 64 MinHash lanes packed
    into a single BIGINT — 8 bytes per doc where the full 32-lane
    signature stores 256 (the paper's point: for b=1 you need ~2-3×
    more lanes for the same variance but pay 1/64 the bits, a large net
    win at 10^12-doc signature stores). Dropping to one bit costs
    resolution, not correctness of the estimator: two unequal minima
    still collide on parity half the time, which the estimator's C=1/2
    baseline removes (:func:`bbit_jaccard_pairs`).

    Shares :func:`minhash_signatures_df`'s one-explode + 64-partial-min
    shape (the shuffle carries (doc, 64 longs) pre-packing); packing is
    a narrow bitwise fold. Docs too short to shingle are absent."""
    sigs = minhash_signatures_df(
        df, id_col, text_col, num_hashes=64, shingle_n=shingle_n, portable=portable
    )
    packed = None
    for i in range(64):
        bit = F.shiftleft(F.pmod(F.col(f"mh_{i}"), F.lit(2)), i)
        packed = bit if packed is None else packed.bitwiseOR(bit)
    return sigs.select("doc", packed.alias("sig"))


def bbit_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    hamming_max: int = 15,
    shingle_n: int = 3,
    max_bucket: int = 1000,
    portable: bool = False,
) -> DataFrame:
    """Near-dup candidate pairs from 1-bit MinHash signatures:
    ``(id_a, id_b, hamming, est_jaccard_micro)`` — reuses the generic
    64-bit Hamming layer (:func:`hamming_near_duplicates`: pigeonhole
    chunk blocking, hot-bucket cap, grouped member expansion — one
    machinery for two signature families: SimHash and b-bit MinHash).
    The estimator is Li & König's b=1 form: E[match frac] = ½ + J/2,
    so Ĵ = 1 − 2·hd/64 — in exact integer micros,
    ``max(0, 64 − 2·hd) · 15625`` (15625 = 10⁶/64). ``hamming_max``
    must be <= 15 (the chunk layer's 16-piece pigeonhole guarantee);
    15 ≈ J ≥ 0.53."""
    if hamming_max > 15:
        raise ValueError(
            f"bbit_jaccard_pairs: hamming_max={hamming_max} exceeds the 16-chunk "
            "pigeonhole guarantee (max 15)"
        )
    sigd = bbit_minhash_signatures_df(df, id_col, text_col, shingle_n, portable)
    pairs = hamming_near_duplicates(sigd, hamming_max, max_bucket)
    return pairs.withColumn(
        "est_jaccard_micro",
        F.greatest(
            F.lit(0).cast("bigint"),
            (F.lit(64) - 2 * F.col("hamming")).cast("bigint") * F.lit(15625),
        ),
    )


def dedup_method_evaluation(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    truth_threshold: float = 0.5,
    shingle_n: int = 3,
    max_posting: int = 100_000,
    portable: bool = False,
) -> DataFrame:
    """The completeness critic for the near-dup family: score each
    candidate-generation method against the EXACT Jaccard ground truth
    on the same corpus — ``(method, n_candidates, n_truth, n_hits,
    precision_micro, recall_micro)`` for MinHash-LSH banding and b-bit
    MinHash Hamming pairing. The question a pipeline owner actually
    asks ("which near-dup method, at what loss?") answered in-engine
    instead of by eyeballing pair lists; at 100 TB run it on a
    deterministic_sample slice, since the truth side is the exact
    inverted-index join.

    Counts are exact set arithmetic (left join + sum); the rates are
    integer micros (BIGINT div). ``portable=True`` makes every
    constituent engine-portable so the WHOLE evaluation replays in
    DuckDB — an oracle-exact meta-query over three oracle-exact
    operators."""
    truth = jaccard_pairs(
        df, id_col, shingle_n=shingle_n, threshold=truth_threshold,
        max_posting=max_posting,
    ).select("id_a", "id_b").persist()
    methods = {
        "minhash_lsh": minhash_lsh_candidates(
            df, id_col, text_col, portable=portable
        ).select("id_a", "id_b"),
        "bbit_minhash": bbit_jaccard_pairs(
            df, id_col, text_col, portable=portable
        ).select("id_a", "id_b"),
    }
    tcount = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    outs = []
    for name, cand in methods.items():
        j = cand.join(
            truth.withColumn("_t", F.lit(1)), ["id_a", "id_b"], "left"
        )
        outs.append(
            j.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
                F.coalesce(F.sum("_t"), F.lit(0)).cast("bigint").alias("n_hits"),
            )
            .crossJoin(tcount)
            .select(
                F.lit(name).alias("method"),
                "n_candidates",
                "n_truth",
                "n_hits",
                F.expr(
                    "CASE WHEN n_candidates > 0"
                    " THEN n_hits * 1000000 div n_candidates END"
                ).alias("precision_micro"),
                F.expr(
                    "CASE WHEN n_truth > 0 THEN n_hits * 1000000 div n_truth END"
                ).alias("recall_micro"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# content-defined chunking (CDC) — the LBFS/FastCDC idea (Muthitacharoen
# et al. SOSP'01) on token anchors: chunk boundaries are a property of the
# CONTENT (tokens whose portable hash ≡ 0 mod divisor), so inserting a
# paragraph shifts every fixed window (duplicate_spans must hash all k-token
# windows, overlapping) but leaves every chunk after the edit byte-identical.
# Chunks are DISJOINT — ~n/divisor hashes per doc instead of n window
# hashes — the cheap coarse sibling of ExactSubstr for storage-style dedup
# and shard-level delta detection.
# ---------------------------------------------------------------------------


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = 64,
) -> DataFrame:
    """Split each doc's whitespace-token stream at content-defined
    anchors (portable_hash64(token) mod ``divisor`` = 0 — expected
    chunk length ≈ divisor tokens): one row per chunk,
    ``(doc, chunk_idx, n_tokens, chunk_md5)`` — the TEXT itself never
    leaves the projection; only the md5 and token count shuffle
    downstream ("hashes shuffle, text doesn't", the line-dedup
    contract).

    Scale shape: pure HOF array work — anchor positions via an indexed
    transform+filter, boundaries = 0 ∥ anchors ∥ n, chunks via zip_with
    over consecutive boundary pairs — NO explode-then-window, no
    shuffle at all until a caller aggregates. Degenerate inputs
    disclosed: an all-anchor run yields 1-token chunks (classic CDC
    min/max bounds are a caller-side divisor choice here); empty docs
    yield no rows.
    """
    from xmlschemavalidator_spark.textops import portable_hash64

    if divisor < 2:
        raise ValueError(f"cdc_chunks: divisor must be ≥2, got {divisor}")
    arr = F.filter(tokens(F.col(text_col)), lambda t: F.length(t) > 0)
    bound = df.select(F.col(id_col).alias("doc"), arr.alias("_toks"))
    a = F.col("_toks")
    anchors = F.filter(
        F.transform(
            a,
            lambda t, i: F.when(
                F.pmod(portable_hash64(t), F.lit(divisor)) == 0, i
            ).otherwise(F.lit(-1)),
        ),
        lambda x: x >= 0,
    )
    n = F.size(a)
    b = F.concat(F.array(F.lit(0)), anchors, F.array(n))
    starts = F.slice(b, 1, F.size(b) - 1)
    ends = F.slice(b, 2, F.size(b) - 1)
    chunks = F.filter(
        F.zip_with(
            starts,
            ends,
            lambda s, e: F.array_join(F.slice(a, s + 1, e - s), " "),
        ),
        lambda c: c != F.lit(""),
    )
    rows = bound.select(
        "doc", F.posexplode(chunks).alias("chunk_idx", "_chunk")
    )
    return rows.select(
        "doc",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        (F.size(F.split(F.col("_chunk"), " "))).cast("bigint").alias("n_tokens"),
        F.md5(F.col("_chunk")).alias("chunk_md5"),
    )


def cdc_duplicate_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = 64,
    min_copies: int = 2,
) -> DataFrame:
    """Cross-corpus duplicated CDC chunks:
    ``(chunk_md5, n_tokens, n_copies, n_docs)`` for every chunk content
    appearing ≥ ``min_copies`` times — shifted/patched near-copies still
    collide on every chunk outside the edit, which fixed windows only
    catch at k-gram granularity and full-doc fingerprints never do.
    Two stacked partial-aggregatable groupBys ((md5, doc) then md5 —
    the fd.py fan-out device, no countDistinct); the shuffle carries
    (md5, doc, count) triples, never text."""
    ch = cdc_chunks(df, id_col, text_col, divisor)
    per_doc = ch.groupBy("chunk_md5", "doc").agg(
        F.count(F.lit(1)).alias("_n"),
        F.max("n_tokens").alias("_t"),
    )
    return (
        per_doc.groupBy("chunk_md5")
        .agg(
            F.max("_t").cast("bigint").alias("n_tokens"),
            F.sum("_n").cast("bigint").alias("n_copies"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
        .where(F.col("n_copies") >= min_copies)
    )


def cross_source_duplication(
    df: DataFrame,
    id_col: str,
    source_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Source-level mirror matrix: for every ordered source pair
    (a ≤ b), how many exact-duplicate fingerprints have at least one
    copy in BOTH — the "which sources copy from which" view that
    doc-level dedup aggregates away (a scraper-of-a-scraper shows up
    as one hot row here long before anyone reads doc_ids lists;
    diagonal rows a = b count fingerprints duplicated WITHIN a
    source — the self-mirror/repost signal). One row per pair with
    ≥ 1 shared fingerprint: ``(source_a, source_b, n_fingerprints,
    n_docs_a, n_docs_b)`` where n_docs_x sums the copies on each side.

    Scale shape: fingerprints groupBy (the exact-dedup shuffle) →
    per-(fingerprint, source) counts → pair expansion bounded by
    #sources-per-fingerprint² per fingerprint, with #sources a small
    constant (the source vocabulary) — NEVER doc×doc; a fingerprint
    present in s sources emits s(s+1)/2 rows regardless of how many
    thousand copies each side holds.
    """
    fp = doc_fingerprint(F.col(text_col))
    cells = (
        df.where(F.col(source_col).isNotNull())
        .select(fp.alias("_fp"), F.col(source_col).alias("_src"))
        .groupBy("_fp", "_src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    )
    # keep only fingerprints that are duplicated AT ALL (within or across)
    keep = (
        cells.groupBy("_fp")
        .agg(F.sum("_n").alias("_tot"))
        .where(F.col("_tot") > 1)
        .select("_fp")
    )
    dup = cells.join(keep, "_fp")
    a = dup.select(
        "_fp", F.col("_src").alias("source_a"), F.col("_n").alias("_na")
    )
    b = dup.select(
        "_fp", F.col("_src").alias("source_b"), F.col("_n").alias("_nb")
    )
    pairs = a.join(b, "_fp").where(F.col("source_a") <= F.col("source_b"))
    # a within-source pair (a = b) only counts if that source holds > 1 copy
    pairs = pairs.where(
        (F.col("source_a") != F.col("source_b")) | (F.col("_na") > 1)
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fingerprints"),
        F.sum("_na").cast("bigint").alias("n_docs_a"),
        F.sum("_nb").cast("bigint").alias("n_docs_b"),
    )


def capture_recapture_estimate(
    pairs_a: DataFrame,
    pairs_b: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    z_milli: int = 1960,
    round_to: int = 6,
) -> DataFrame:
    """Capture–recapture estimate of the TOTAL duplicate-pair population
    from two independent detectors (Chapman 1951's bias-corrected
    Lincoln–Petersen; ecology's mark-recapture, applied the way
    record-linkage evaluations estimate missed matches): detector A
    found n_a pairs, detector B found n_b, they agree on m — then

        N̂ = (n_a+1)(n_b+1)/(m+1) − 1

    estimates how many true duplicate pairs EXIST, including the ones
    both missed, and ``recall_a = n_a/N̂`` / ``recall_b`` grade each
    detector WITHOUT ground truth — the dedup-coverage question
    ``dedup_method_evaluation`` can only answer against planted truth.
    ONE row ``(n_a, n_b, n_both, n_hat, se, ci_low, ci_high, recall_a,
    recall_b)`` with Chapman's variance

        Var = (n_a+1)(n_b+1)(n_a−m)(n_b−m) / ((m+1)²(m+2))

    and the normal CI at ``z_milli`` (CI clamped below at max(n_a,n_b):
    the union is a hard lower bound the normal approximation can dip
    under). Disclosed assumption (the method's, not ours): detectors
    miss INDEPENDENTLY — correlated misses (e.g. two shingle-based
    methods sharing a blind spot) bias N̂ low; pair a lexical with an
    embedding detector.

    Machinery: pairs are canonicalized (least/greatest) so orientation
    never splits a match; counts are three partial-aggregatable
    distinct-counts (two inputs + one inner join); the estimator is a
    fixed integer-ratio double chain. m = 0 yields NULL estimates
    (disjoint detectors carry no overlap information), never div/0 —
    note Chapman itself is defined at m=0; the NULL gate is ours, since
    a zero-overlap reading in practice means the independence
    assumption failed, and surfacing NULL beats reporting a number
    built on it.

    Reference scope note: eliassona/xmlschemavalidator has no dedup
    layer (core.clj:263-285); north-rule addition grading the MinHash/
    SimHash/embedding detector family against each other.
    """

    def canon(df: DataFrame) -> DataFrame:
        a, b = F.col(id_a), F.col(id_b)
        return df.where(a.isNotNull() & b.isNotNull()).select(
            F.least(a, b).alias("_x"), F.greatest(a, b).alias("_y")
        ).distinct()

    ca, cb = canon(pairs_a), canon(pairs_b)
    na = ca.agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
    nb = cb.agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
    m = (
        ca.join(cb, ["_x", "_y"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    j = na.crossJoin(F.broadcast(nb)).crossJoin(F.broadcast(m))
    a1 = (F.col("n_a") + 1).cast("double")
    b1 = (F.col("n_b") + 1).cast("double")
    m1 = (F.col("n_both") + 1).cast("double")
    nhat = a1 * b1 / m1 - F.lit(1.0)
    var = (
        a1
        * b1
        * (F.col("n_a") - F.col("n_both")).cast("double")
        * (F.col("n_b") - F.col("n_both")).cast("double")
        / (m1 * m1 * (m1 + F.lit(1.0)))
    )
    ok = F.col("n_both") > 0
    se = F.sqrt(var)
    zc = F.lit(z_milli / 1000.0)
    lower_bound = F.greatest(F.col("n_a"), F.col("n_b")).cast("double")
    return j.select(
        "n_a",
        "n_b",
        "n_both",
        F.round(F.when(ok, nhat), round_to).alias("n_hat"),
        F.round(F.when(ok, se), round_to).alias("se"),
        F.round(
            F.when(ok, F.greatest(nhat - zc * se, lower_bound)), round_to
        ).alias("ci_low"),
        F.round(F.when(ok, nhat + zc * se), round_to).alias("ci_high"),
        F.round(
            F.when(ok & (nhat > 0), F.col("n_a").cast("double") / nhat),
            round_to,
        ).alias("recall_a"),
        F.round(
            F.when(ok & (nhat > 0), F.col("n_b").cast("double") / nhat),
            round_to,
        ).alias("recall_b"),
    )


def capture_recapture_oracle_sql(
    pairs_a_sql: str,
    pairs_b_sql: str,
    z_milli: int = 1960,
    round_to: int = 6,
) -> str:
    """DuckDB replay of :func:`capture_recapture_estimate`; each input
    SQL must yield ``id_a``/``id_b`` pair columns."""

    def canon(src: str, name: str) -> str:
        return (
            f"{name} AS (SELECT DISTINCT least(id_a, id_b) AS x,"
            f" greatest(id_a, id_b) AS y FROM ({src})"
            " WHERE id_a IS NOT NULL AND id_b IS NOT NULL)"
        )

    nhat = (
        "(CAST(n_a + 1 AS DOUBLE) * CAST(n_b + 1 AS DOUBLE)"
        " / CAST(n_both + 1 AS DOUBLE) - 1.0)"
    )
    var = (
        "(CAST(n_a + 1 AS DOUBLE) * CAST(n_b + 1 AS DOUBLE)"
        " * CAST(n_a - n_both AS DOUBLE) * CAST(n_b - n_both AS DOUBLE)"
        " / (CAST(n_both + 1 AS DOUBLE) * CAST(n_both + 1 AS DOUBLE)"
        " * CAST(n_both + 2 AS DOUBLE)))"
    )
    z = z_milli / 1000.0
    return f"""WITH {canon(pairs_a_sql, "ca")}, {canon(pairs_b_sql, "cb")},
cnt AS (SELECT
    (SELECT CAST(count(*) AS BIGINT) FROM ca) AS n_a,
    (SELECT CAST(count(*) AS BIGINT) FROM cb) AS n_b,
    (SELECT CAST(count(*) AS BIGINT) FROM ca JOIN cb USING (x, y)) AS n_both)
SELECT n_a, n_b, n_both,
  round(CASE WHEN n_both > 0 THEN {nhat} END, {round_to}) AS n_hat,
  round(CASE WHEN n_both > 0 THEN sqrt({var}) END, {round_to}) AS se,
  round(CASE WHEN n_both > 0 THEN greatest({nhat} - {z} * sqrt({var}),
      CAST(greatest(n_a, n_b) AS DOUBLE)) END, {round_to}) AS ci_low,
  round(CASE WHEN n_both > 0 THEN {nhat} + {z} * sqrt({var}) END,
      {round_to}) AS ci_high,
  round(CASE WHEN n_both > 0 AND {nhat} > 0 THEN
      CAST(n_a AS DOUBLE) / {nhat} END, {round_to}) AS recall_a,
  round(CASE WHEN n_both > 0 AND {nhat} > 0 THEN
      CAST(n_b AS DOUBLE) / {nhat} END, {round_to}) AS recall_b
FROM cnt"""

"""Similarity search over embedding columns (``array<float>``).

* :func:`brute_force_topk` — exact cosine top-k: one narrow projection
  (dot product via zip_with/aggregate, all JVM) + a top-k sort. The
  baseline and the verifier for the approximate paths.
* :func:`hyperplane_bucket` — random-hyperplane LSH bits from deterministic
  hash-derived plane weights (no rand(): reproducible across runs).
* :func:`ivf_assign` / :func:`ivf_topk` — IVF-style scale path: k centroid
  rows are broadcast, vectors are assigned to their nearest centroid
  (one narrow pass), and queries probe only ``nprobe`` inverted lists —
  the scan shrinks by ~k/nprobe at constant recall for clustered data.
* :func:`build_ivf_index` / :func:`ivf_index_topk` — the persisted form:
  vectors stored partitioned by inverted list, so the probe prunes whole
  partition DIRECTORIES at file-listing time (PartitionFilters), not rows
  after a full scan. Build once per corpus snapshot, query many times.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xmlschemavalidator_spark.dedup import cosine_similarity


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


def hyperplane_bucket_py(vec: list[float], nbits: int = 12, seed: int = 42) -> int:
    """Driver-side replica of :func:`hyperplane_bucket` for a *literal*
    vector — same plane coefficients via the pure-Python Spark-compatible
    ``xxhash64`` (hashing.py), so the bucket matches the JVM expression
    bit-for-bit (pinned in tests/test_similarity.py). Replaces the 1-row
    Spark job lsh_topk used to launch per query."""
    from xmlschemavalidator_spark.hashing import spark_xxhash64_ints

    bucket = 0
    for i in range(nbits):
        dot = 0.0
        for j, x in enumerate(vec):
            h = spark_xxhash64_ints([i, j, seed])
            coeff = (h % 100000) / 50000.0 - 1.0  # pmod: non-negative remainder
            dot += x * coeff
        if dot >= 0:
            bucket |= 1 << i
    return bucket


def lsh_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    nbits: int = 8,
    seed: int = 42,
    probes: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket,
    multi-probing the ``probes - 1`` single-bit-flip neighbor buckets too
    (a near-boundary query's true neighbors land one sign flip away —
    multi-probe buys recall WITHOUT re-bucketing or more hash tables; the
    probe set is a tiny isin() literal list, still a pushed-down scan
    filter). probes <= nbits + 1. Returns the same shape as
    brute_force_topk."""
    bucketed = df.withColumn("_b", hyperplane_bucket(F.col(vec_col), nbits, seed))
    qbucket = hyperplane_bucket_py(query, nbits, seed)
    probe_set = [qbucket] + [qbucket ^ (1 << i) for i in range(min(probes - 1, nbits))]
    cand = bucketed.where(F.col("_b").isin(probe_set))
    return brute_force_topk(cand, vec_col, query, k, id_col)


def lsh_topk_multitable(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    nbits: int = 8,
    tables: int = 4,
    probes: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k with L independent hash tables — the standard
    recall lever: a true neighbor colliding with probability r in one
    table is found with probability 1-(1-r)^L across L tables (each table
    re-seeds its hyperplanes). Still ONE scan: all L bucket ids are
    computed in a single projection and the candidate predicate is an OR
    of tiny ``isin`` lists (driver-side query buckets via
    :func:`hyperplane_bucket_py` — no per-table Spark jobs). Cost: L*nbits
    hyperplane dot products per row, traded for recall; candidates are
    verified exactly, so precision is unaffected."""
    cond = None
    for t in range(tables):
        ts = seed + 7919 * t  # distinct plane family per table
        qb = hyperplane_bucket_py(query, nbits, ts)
        probe_set = [qb] + [qb ^ (1 << i) for i in range(min(probes - 1, nbits))]
        c = hyperplane_bucket(F.col(vec_col), nbits, ts).isin(probe_set)
        cond = c if cond is None else (cond | c)
    return brute_force_topk(df.where(cond), vec_col, query, k, id_col)


def ivf_assign(
    df: DataFrame, vec_col: str, centroids: list[list[float]], id_col: str = "vec_id"
) -> DataFrame:
    """Assign each vector to its nearest centroid (by cosine): adds ``_list``.
    Centroids arrive as literals in the plan (they're small — IVF lists are
    built once per corpus snapshot); the pass is narrow, no shuffle.

    All k cosines are computed ONCE into a scores array, then argmax'd.
    The earlier when/greatest chain re-embedded every previous cosine
    subtree at each level (HOF subtrees are not CSE'd) — ~k²/2 aggregate
    evaluations per row instead of k."""
    cents = F.array(*[_lit_vec(c) for c in centroids])
    scores = F.transform(cents, lambda c: cosine_similarity(F.col(vec_col), c))
    df = df.withColumn("_scores", scores)
    best = (F.array_position(F.col("_scores"), F.array_max(F.col("_scores"))) - 1).cast("int")
    return df.withColumn("_list", best).drop("_scores")


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    k: int,
    iters: int = 5,
    id_col: str = "vec_id",
    sample_fraction: float | None = None,
    sample_salt: str = "kmeans",
) -> list[list[float]]:
    """Lloyd's k-means over a DataFrame of vectors — the centroid trainer
    for the IVF index (ivf_assign/ivf_topk probe quality depends on
    centroids matching the data's clusters; sampled rows are a poor stand-in).

    Iteration = one assign pass (ivf_assign: k cosines per row, narrow) +
    one mean-update: posexplode the vector, partial-aggregate per
    (cluster, dim) — the shuffle carries k x dim partial sums, independent
    of row count; the driver sees k x dim floats per iteration. Init is
    the first k rows by id (deterministic). Empty clusters keep their
    previous centroid. This is genuinely iterative — one of the ops with
    no single SQL equivalent (rows-only in the driver contract).

    ``sample_fraction`` (r3 VERDICT item 6): centroid quality needs a
    representative sample, not the full corpus — at 100 TB every Lloyd
    iteration re-scanning all rows is the cost driver. A deterministic
    content-addressed sample (md5-threshold narrow filter — pushes into
    the scan, reproducible across runs/engines/cluster layouts) caps the
    per-iteration work; assignment of the FULL corpus happens once,
    downstream, via ivf_assign with the fitted centroids."""
    if sample_fraction is not None:
        from xmlschemavalidator_spark.sampling import deterministic_sample

        df = deterministic_sample(df, id_col, sample_fraction, sample_salt)
    first = df.orderBy(id_col).limit(k).select(vec_col).collect()
    if len(first) < k:
        raise ValueError(
            f"kmeans_fit: only {len(first)} rows available for k={k} seeds"
            + (
                f" (sample_fraction={sample_fraction} left too few rows — "
                "raise it or drop it)"
                if sample_fraction is not None
                else ""
            )
        )
    cents = [list(map(float, r[vec_col])) for r in first]
    for _ in range(iters):
        assigned = ivf_assign(df, vec_col, cents, id_col)
        rows = (
            assigned.select(F.col("_list"), F.posexplode(vec_col).alias("i", "x"))
            .groupBy("_list", "i")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new = [list(c) for c in cents]
        by_list: dict[int, dict[int, float]] = {}
        for r in rows:
            by_list.setdefault(r["_list"], {})[r["i"]] = r["m"]
        for li, dims in by_list.items():
            for i, m in dims.items():
                new[li][i] = float(m)
        cents = new
    return cents


def _cos_py(a: list[float], b: list[float]) -> float:
    """Driver-side cosine — used only on k centroid vectors, never rows."""
    import math

    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return dot / (na * nb) if na > 0 and nb > 0 else 0.0


def _probe_lists(
    centroids: list[list[float]], query: list[float], nprobe: int
) -> list[int]:
    """The ``nprobe`` centroid indices nearest the query (driver-side: k
    cosines over the tiny centroid table)."""
    order = sorted(range(len(centroids)), key=lambda i: -_cos_py(centroids[i], query))
    return order[:nprobe]


def ivf_topk(
    assigned: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    query: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe the ``nprobe`` centroid lists closest to the query, exact
    cosine within them. With partitioning/bucketing by ``_list`` the probe
    prunes file scans too (partition pruning on the list column —
    :func:`build_ivf_index` / :func:`ivf_index_topk` is that persisted
    form)."""
    probe = _probe_lists(centroids, query, nprobe)
    cand = assigned.where(F.col("_list").isin(probe))
    return brute_force_topk(cand, vec_col, query, k, id_col)


def build_ivf_index(
    df: DataFrame,
    vec_col: str,
    path: str,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Train centroids and PERSIST the IVF index: vectors land under
    ``<path>/vectors/`` partitioned by their inverted list (``_list=<i>/``
    directories), centroids under ``<path>/centroids/``. Build once per
    corpus snapshot; after that every :func:`ivf_index_topk` query scans
    ONLY the ``nprobe`` probed directories — the pruning happens at the
    file listing, before any IO, which is the difference between an IVF
    that reads k/nprobe less data and one that merely filters it after a
    full scan. Returns the trained centroids."""
    spark = df.sparkSession
    cents = kmeans_fit(df, vec_col, k, iters, id_col)
    assigned = ivf_assign(df, vec_col, cents, id_col)
    assigned.write.mode("overwrite").partitionBy("_list").parquet(f"{path}/vectors")
    _persist_centroids(spark, cents, path)
    return cents


def _persist_centroids(spark, cents: list[list[float]], path: str) -> None:
    """The shared centroid-table writer behind both index builders — one
    layout, one place to change it."""
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "list int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def _read_probed(spark, path: str, query: list[float], nprobe: int) -> DataFrame:
    """The shared probe prologue behind both persisted-index queries:
    load centroids, pick the nprobe nearest driver-side, and scan ONLY
    those ``_list=`` directories (the isin lands in PartitionFilters —
    pruning at the file listing, before any IO)."""
    centroids = load_ivf_centroids(spark, path)
    probe = _probe_lists(centroids, query, min(nprobe, len(centroids)))
    return spark.read.parquet(f"{path}/vectors").where(
        F.col("_list").isin(probe)
    )


def load_ivf_centroids(spark, path: str) -> list[list[float]]:
    """The persisted centroid table, ordered by list id (k×dim floats —
    driver-bounded by construction)."""
    rows = spark.read.parquet(f"{path}/centroids").orderBy("list").collect()
    return [list(map(float, r["centroid"])) for r in rows]


def ivf_index_topk(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Query a persisted IVF index (:func:`build_ivf_index`): pick the
    ``nprobe`` nearest centroids driver-side, then scan only those
    ``_list=`` partition directories (the ``isin`` lands in
    PartitionFilters — asserted by test_similarity.py::
    test_ivf_persisted_index_roundtrip) and rank exact cosine within
    them. ``vec_col`` must match what :func:`build_ivf_index` indexed
    (default matches the repo's embeddings tables)."""
    vecs = _read_probed(spark, path, query, nprobe)
    return brute_force_topk(vecs, vec_col, query, k, id_col)


# ---------------------------------------------------------------------------
# int8 quantization + Matryoshka truncation — the ANN memory-reduction
# paths (4x / dims-fold smaller vectors) real 100 TB deployments run
# before exact re-ranking. Both are engine-portable by construction:
# quantization uses explicit floor(x + 0.5) half-up (round() is half-even
# in some engines), the quantized dot product is integer-exact, and
# truncation is a plain slice (cosine needs no renorm — it divides by the
# truncated norms anyway).
# ---------------------------------------------------------------------------

def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization of a double array:
    ``struct(q array<bigint>, scale double)`` with
    ``q_i = floor(v_i · 127 / scale + 0.5)`` and ``scale = max|v_i|``
    (so q spans exactly [-127, 127]; a zero vector quantizes to zeros
    with scale 1.0 — no divide-by-zero). Dequantized value =
    ``q_i · scale / 127``."""
    # let-bind the raw max (a HOF subtree) to a lambda VARIABLE so it
    # evaluates ONCE per row — referencing it from the per-element
    # transform would re-run the array_max(transform(abs)) scan for every
    # element, O(d²) per row, and even a `when(m > 0, m)` guard outside a
    # binding computes it twice (review finding, confirmed in the
    # optimized plan; the CLAUDE.md HOF-CSE escape hatch). Inside the
    # binding every reference — including the zero-vector guard and the
    # per-element divisor — is a cheap variable read.
    m = F.array_max(F.transform(vec, lambda x: F.abs(x)))

    def body(mm):
        s = F.when(mm > 0, mm).otherwise(F.lit(1.0))
        return F.struct(
            F.transform(
                vec,
                lambda x: F.floor(x * F.lit(127.0) / s + F.lit(0.5)).cast(
                    "long"
                ),
            ).alias("q"),
            s.alias("scale"),
        )

    return F.get(F.transform(F.array(m), body), 0)


def quantized_cosine(qa: Column, qb: Column) -> Column:
    """Cosine over two int8-quantized arrays. The per-vector scales cancel
    in the cosine, so this is a pure integer dot product and two integer
    norms (exact, order-independent) followed by one double division —
    bit-identical across engines and reruns."""
    dot = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    na = F.aggregate(
        qa, F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )
    nb = F.aggregate(
        qb, F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )
    return F.when(
        (na > 0) & (nb > 0),
        dot.cast("double") / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))),
    ).otherwise(F.lit(0.0))


def quantized_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    k: int = 10,
) -> DataFrame:
    """Top-k by int8-quantized cosine: ``(id, qcosine)`` — the coarse
    ranking stage of a quantized ANN pipeline (exact re-rank of the
    shortlist follows with :func:`brute_force_topk`). One narrow
    projection + TakeOrderedAndProject; ranks on the 5dp-rounded value
    (ties by id) so float epsilons can never flip membership."""
    qv = quantize_int8(_lit_vec(query))["q"]
    qcos = quantized_cosine(
        quantize_int8(F.col(vec_col).cast("array<double>"))["q"], qv
    )
    return (
        df.select(F.col(id_col), F.round(qcos, 5).alias("qcosine"))
        .orderBy(F.col("qcosine").desc(), F.col(id_col))
        .limit(k)
    )


def matryoshka_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    dims: int,
    k: int = 10,
) -> DataFrame:
    """Top-k by cosine over the first ``dims`` dimensions — Matryoshka
    retrieval (Kusupati et al., NeurIPS'22): MRL-trained embeddings keep
    their ranking power in prefixes, so the coarse pass reads a dims-fold
    smaller vector (cosine normalizes by the truncated norms, so no
    renormalization step is needed). Same 5dp-rounded ranking contract as
    :func:`quantized_topk`."""
    from xmlschemavalidator_spark.dedup import cosine_similarity

    sub = F.slice(F.col(vec_col).cast("array<double>"), 1, dims)
    qsub = F.slice(_lit_vec(query), 1, dims)
    cos = cosine_similarity(sub, qsub)
    return (
        df.select(F.col(id_col), F.round(cos, 5).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze & Schmid, TPAMI 2011) — the canonical
# 100 TB ANN compression: a D-dim float vector becomes m small codes (one
# per subspace), distances are approximated from m driver-side lookup
# tables (ADC). Complements quantize_int8 (4x, per-dim) with ~32x
# compression, and composes with the IVF index (IVF-PQ).
# ---------------------------------------------------------------------------

# PQ assignment is SQUARED L2, not cosine (right for ivf_assign's
# direction buckets, wrong here): the ADC dot-product decomposition
# needs codewords that match subvector MAGNITUDES, not just directions.


def _with_subvectors(df: DataFrame, vec_col: str, m: int, d: int) -> DataFrame:
    """Project the m subvector slices as REAL columns (``_sv0``..) —
    the let-binding step every PQ pass shares: a slice spliced directly
    into a HOF body is re-evaluated once per codeword (HOF subtrees are
    never CSE'd — review finding: the unbound form sliced m·k times per
    row instead of m)."""
    return df.select(
        "*",
        *[
            F.slice(F.col(vec_col), j * d + 1, d).alias(f"_sv{j}")
            for j in range(m)
        ],
    )


def _pq_code_col(book: list[list[float]], j: int):
    """The code Column for subspace ``j`` (argmin squared-L2 over the
    literal codebook) from the bound ``_sv{j}`` column — callers run
    :func:`_with_subvectors` first. Ties break to the lowest code
    (array_position finds the first minimum). A dedicated function
    scope, NOT a loop-local lambda default: PySpark dispatches HOF
    lambdas on arity, so ``lambda c, sv=sv`` becomes the binary
    (element, index) form and binds the array INDEX to sv (reproduced:
    zip_with then sees INT)."""
    carr = F.array(*[_lit_vec(c) for c in book])
    sv = F.col(f"_sv{j}")
    d2 = F.transform(
        carr,
        lambda c: F.aggregate(
            F.zip_with(sv, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return (F.array_position(d2, F.array_min(d2)) - 1).cast("int")


def _pq_code_cols(codebooks: list[list[list[float]]]) -> list:
    return [_pq_code_col(book, j) for j, book in enumerate(codebooks)]


def pq_train(
    df: DataFrame,
    vec_col: str,
    m: int = 8,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    sample_fraction: float | None = None,
) -> list[list[list[float]]]:
    """Train ``m`` subspace codebooks of ``k`` centroids each (Lloyd with
    L2 assignment per subspace) → ``codebooks[j][code] = centroid``.
    The vector dim must divide evenly by ``m``.

    Scale shape: ONE pass per Lloyd iteration for ALL m subspaces — the
    m codes are computed in a single projection and one posexplode
    mean-update groups by (subspace, code, dim), so the shuffle carries
    m·k·(D/m) = k·D partial sums total and the input is scanned
    ``iters`` times, not ``m·iters`` (review finding: the per-subspace
    loop re-scanned the corpus m times per iteration).
    ``sample_fraction`` caps each scan via the deterministic
    content-addressed sample."""
    if sample_fraction is not None:
        from xmlschemavalidator_spark.sampling import deterministic_sample

        df = deterministic_sample(df, id_col, sample_fraction, "pq")
    seed_rows = df.orderBy(id_col).limit(k).select(vec_col).collect()
    if not seed_rows:
        raise ValueError("pq_train: empty input")
    dim = len(seed_rows[0][vec_col])
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    if len(seed_rows) < k:
        raise ValueError(f"pq_train: only {len(seed_rows)} rows for k={k} codes")
    d = dim // m
    codebooks = [
        [
            [float(x) for x in r[vec_col][j * d : (j + 1) * d]]
            for r in seed_rows
        ]
        for j in range(m)
    ]
    sub = _with_subvectors(df.select(id_col, vec_col), vec_col, m, d)
    for _ in range(iters):
        # the codes get their own projection BELOW the posexplode: in the
        # same select they would sit above the Generate and the m HOF
        # argmins would run once per exploded element (dim times per row)
        rows = (
            sub.select(F.array(*_pq_code_cols(codebooks)).alias("_codes"), vec_col)
            .select("_codes", F.posexplode(vec_col).alias("i", "x"))
            .select(
                F.expr(f"i div {d}").cast("int").alias("j"),
                F.expr(f"element_at(_codes, CAST(i div {d} AS INT) + 1)").alias(
                    "code"
                ),
                (F.col("i") % d).cast("int").alias("si"),
                "x",
            )
            .groupBy("j", "code", "si")
            .agg(F.avg("x").alias("mu"))
            .collect()  # m·k·d floats — driver-bounded by construction
        )
        new = [[list(c) for c in book] for book in codebooks]
        for r in rows:
            new[r["j"]][r["code"]][r["si"]] = float(r["mu"])
        codebooks = new
    return codebooks


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """Add ``codes_col`` (``array<int>`` of length m — nearest codeword
    per subspace by L2), all other columns preserved (so the IVF-PQ
    build never self-joins the corpus to reunite codes with vectors).
    Two chained narrow projections (subvector let-binding, then the m·k
    literal-table distance chain) — no shuffle, no Python; the codes
    column is what an IVF-PQ index persists (~32x smaller than the float
    vector at m=8, k=16, D=64)."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    bound = _with_subvectors(df, vec_col, m, d)
    return bound.withColumn(
        codes_col, F.array(*_pq_code_cols(codebooks))
    ).drop(*[f"_sv{j}" for j in range(m)])


def pq_topk(
    codes_df: DataFrame,
    codes_col: str,
    query: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k by approximate cosine: the query
    stays full-precision, each row's vector is approximated by its m
    codewords, and ``cos ≈ Σ_j dot(q_j, c_j) / (|q|·|x̂|)`` where both
    the per-(subspace, code) dots and codeword norms are m·k
    driver-computed literals — scoring a row is m array lookups, no
    vector math at all. Narrow scan + TakeOrderedAndProject; scores
    rounded to 5dp for rank stability."""
    import math

    m = len(codebooks)
    d = len(codebooks[0][0])
    if len(query) != m * d:
        raise ValueError(f"pq_topk: query dim {len(query)} != {m * d}")
    qn = math.sqrt(sum(x * x for x in query))
    dot_tbl = [
        [
            sum(query[j * d + i] * c[i] for i in range(d))
            for c in codebooks[j]
        ]
        for j in range(m)
    ]
    n2_tbl = [[sum(x * x for x in c) for c in codebooks[j]] for j in range(m)]
    dots = F.array(*[F.array(*[F.lit(float(v)) for v in row]) for row in dot_tbl])
    n2s = F.array(*[F.array(*[F.lit(float(v)) for v in row]) for row in n2_tbl])
    idxs = F.sequence(F.lit(0), F.lit(m - 1))
    codes = F.col(codes_col)
    dot = F.aggregate(
        idxs,
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(F.element_at(dots, j + 1), F.element_at(codes, j + 1) + 1),
    )
    n2 = F.aggregate(
        idxs,
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(F.element_at(n2s, j + 1), F.element_at(codes, j + 1) + 1),
    )
    score = F.when(
        (F.lit(qn) > 0) & (n2 > 0), dot / (F.lit(qn) * F.sqrt(n2))
    ).otherwise(F.lit(-1.0))
    return (
        codes_df.select(id_col, F.round(score, 5).alias("pq_cosine"))
        .orderBy(F.col("pq_cosine").desc(), F.col(id_col))
        .limit(k)
    )


def opq_train(
    df: DataFrame,
    vec_col: str,
    m: int = 8,
    k: int = 16,
    opq_iters: int = 8,
    lloyd_iters: int = 4,
    id_col: str = "vec_id",
    max_sample: int = 8192,
) -> list[list[float]]:
    """Learn the OPQ orthogonal rotation R (Ge et al., CVPR 2013,
    "Optimized Product Quantization" — the non-parametric alternation):
    rotate so PQ's independent-subspace assumption fits the data, which
    lifts ADC recall at the SAME bytes/vector. Returns R as a D×D
    row-major list (apply with :func:`apply_rotation`; rotation is
    orthogonal, so cosine ranking in the rotated space equals the
    original — pq_topk machinery runs unchanged on rotated vectors).

    Training is DRIVER-SIDE numpy on a bounded deterministic sample
    (the kmeans_fit contract — fixed-size training read at any corpus
    scale): alternate (1) per-subspace Lloyd on X·R, (2) the orthogonal
    Procrustes update R = U·Vᵀ from svd(Xᵀ·X̂). Both steps
    monotonically decrease ‖X·R − X̂‖², the published objective."""
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(61)), id_col)
        .limit(max_sample)
        .collect()
    )
    if not rows:
        raise ValueError("opq_train: empty input")
    X = np.array([[float(v) for v in r[vec_col]] for r in rows])
    n, dim = X.shape
    if dim % m != 0:
        raise ValueError(f"opq_train: dim {dim} not divisible by m={m}")
    d = dim // m
    R = np.eye(dim)
    for _ in range(opq_iters):
        Y = X @ R
        # per-subspace Lloyd (deterministic init: first k sample rows)
        Yhat = np.empty_like(Y)
        for j in range(m):
            sub = Y[:, j * d : (j + 1) * d]
            cents = sub[: min(k, n)].copy()
            for _ in range(lloyd_iters):
                d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
                assign = d2.argmin(axis=1)
                for c in range(len(cents)):
                    mask = assign == c
                    if mask.any():
                        cents[c] = sub[mask].mean(axis=0)
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            Yhat[:, j * d : (j + 1) * d] = cents[d2.argmin(axis=1)]
        # orthogonal Procrustes: R = argmin_R ||X R - Yhat||_F
        u, _s, vt = np.linalg.svd(X.T @ Yhat)
        R = u @ vt
    return [[float(v) for v in row] for row in R]


def apply_rotation(
    df: DataFrame, vec_col: str, rotation: list[list[float]], out_col: str | None = None
) -> DataFrame:
    """Rotate the vector column by the literal D×D matrix: ONE narrow
    projection (no shuffle, no Python) — out[i] = Σ_j x[j]·R[j][i].
    The matrix ships as a literal array of COLUMN vectors and the input
    array is referenced (not recomputed) inside the HOF, so the cost is
    one D² multiply-add chain per row."""
    cols = F.lit([[float(rotation[jj][ii]) for jj in range(len(rotation))]
                  for ii in range(len(rotation[0]))])  # R columns
    x = F.col(vec_col)
    rotated = F.transform(
        cols,
        lambda c: F.aggregate(
            F.zip_with(x, c, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
        ),
    )
    return df.withColumn(out_col or vec_col, rotated)


def pq_mse(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
) -> float:
    """Mean squared quantization error of a codebook set over a frame —
    the direct PQ/OPQ objective (‖x − x̂‖² averaged), computed as one
    narrow pass + tiny agg: encode to codes, then the residual against
    the literal codebooks."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    bound = _with_subvectors(df.select(id_col, vec_col), vec_col, m, d)
    err_terms = []
    for j, book in enumerate(codebooks):
        carr = F.array(*[_lit_vec(c) for c in book])
        code = _pq_code_col(book, j)
        cent = F.element_at(carr, code + 1)
        err_terms.append(
            F.aggregate(
                F.zip_with(F.col(f"_sv{j}"), cent, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )
    total = bound.select(sum(err_terms[1:], err_terms[0]).alias("e")).agg(
        F.avg("e").alias("mse")
    )
    return float(total.collect()[0]["mse"])


def build_ivf_pq_index(
    df: DataFrame,
    vec_col: str,
    path: str,
    k: int = 8,
    m: int = 8,
    pq_k: int = 64,
    iters: int = 5,
    id_col: str = "vec_id",
    sample_fraction: float | None = None,
) -> None:
    """IVF-PQ, the canonical web-scale ANN index (Jégou et al. TPAMI'11 —
    what FAISS-style systems run at billions of vectors): coarse IVF
    lists for partition pruning + PQ codes for in-list scoring, both
    persisted. Layout: ``<path>/vectors/_list=<i>/`` rows carry
    (id, vector, pq_codes) — codes for the cheap ADC pass, the float
    vector for the exact re-rank of the shortlist — plus
    ``<path>/centroids/`` and ``<path>/codebooks/``.

    Build = one coarse k-means + one PQ train (both sampled-capable) +
    one encode pass + one partitioned write; queries then read only the
    probed directories and score them with m array lookups per row."""
    spark = df.sparkSession
    cents = kmeans_fit(
        df, vec_col, k, iters, id_col, sample_fraction=sample_fraction
    )
    books = pq_train(
        df, vec_col, m=m, k=pq_k, iters=iters, id_col=id_col,
        sample_fraction=sample_fraction,
    )
    coded = pq_encode(
        ivf_assign(df, vec_col, cents, id_col), vec_col, books, id_col
    )
    coded.write.mode("overwrite").partitionBy("_list").parquet(
        f"{path}/vectors"
    )
    _persist_centroids(spark, cents, path)
    spark.createDataFrame(
        [
            (j, code, [float(x) for x in cent])
            for j, book in enumerate(books)
            for code, cent in enumerate(book)
        ],
        "subspace int, code int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")


def load_pq_codebooks(spark, path: str) -> list[list[list[float]]]:
    """The persisted PQ codebooks, ordered (m·pq_k rows — driver-bounded
    by construction)."""
    rows = (
        spark.read.parquet(f"{path}/codebooks")
        .orderBy("subspace", "code")
        .collect()
    )
    books: list[list[list[float]]] = []
    for r in rows:
        if r["subspace"] == len(books):
            books.append([])
        books[r["subspace"]].append(list(map(float, r["centroid"])))
    return books


def ivf_pq_topk(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 2,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """Query a persisted IVF-PQ index: probe the ``nprobe`` nearest
    lists (partition pruning at file listing — only those directories
    are read), ADC-score the probed rows from the codes (m lookups/row,
    no vector math), keep a ``shortlist``, then EXACT-re-rank only the
    shortlist's float vectors → the standard two-stage quality/cost
    trade: IO bounded by nprobe/k, exact math bounded by ``shortlist``.
    ``shortlist`` is clamped to ≥ k (a smaller shortlist would silently
    return fewer than k rows — review finding)."""
    shortlist = max(shortlist, k)
    books = load_pq_codebooks(spark, path)
    vecs = _read_probed(spark, path, query, nprobe)
    short = pq_topk(vecs, codes_col, query, books, k=shortlist, id_col=id_col)
    cand = vecs.join(short.select(id_col), id_col, "left_semi")
    return brute_force_topk(cand, vec_col, query, k, id_col)


def ranked(df: DataFrame, order_cols: list, id_col: str) -> DataFrame:
    """1-based rank of an already-top-k retrieval list: row_number over
    (order_cols..., id asc) — the deterministic tie-break every fusion
    consumer needs. The single-partition window is fine HERE because
    inputs are k-row lists by contract (never corpus-sized frames); the
    id tie-break makes equal scores engine-portable."""
    from pyspark.sql import Window

    w = Window.orderBy(*order_cols, F.col(id_col).asc())
    return df.select(
        F.col(id_col), F.row_number().over(w).cast("bigint").alias("rank")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str,
    k: int = 60,
    topn: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009) —
    the standard hybrid-retrieval combiner (BM25 list + ANN list in every
    production vector store): fused score = sum over lists of
    1 / (k + rank). Scored in INTEGER micro units — 1000000 div (k+rank)
    — so the fused ranking is exactly reproducible cross-engine (the
    repo's learned-score parity convention; float 1/(k+r) sums would
    depend on addition order).

    Each input: (id_col, rank) with 1-based BIGINT ranks (see `ranked`).
    Items absent from a list contribute nothing. Output:
    (id, rrf_micro, n_lists) ordered (rrf_micro desc, id asc), top `topn`
    via TakeOrderedAndProject — the inputs are k-row lists, so the fuse
    is driver-cheap regardless of corpus size."""
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    contrib = F.expr(f"CAST(1000000 div ({int(k)} + rank) AS BIGINT)")
    parts = [r.select(F.col(id_col), contrib.alias("_c")) for r in rankings]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy(id_col)
        .agg(
            F.sum("_c").cast("bigint").alias("rrf_micro"),
            F.count(F.lit(1)).cast("bigint").alias("n_lists"),
        )
        .orderBy(F.col("rrf_micro").desc(), F.col(id_col).asc())
        .limit(topn)
    )


def _srp_plane_signs(nbits: int, dim: int, salt: str = "embsig") -> list[list[int]]:
    """±1 hyperplane sign matrix for sign-random-projection signatures,
    derived from md5 in PYTHON and injected as literals into both
    engines — no in-engine hash to diverge. Pure function of
    (salt, plane, dim)."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{salt}:{j}:{i}".encode()).digest()[0] % 2 == 0 else -1
            for i in range(dim)
        ]
        for j in range(nbits)
    ]


def embedding_simhash_signatures(
    df: DataFrame,
    vec_col: str,
    id_col: str = "vec_id",
    dim: int | None = None,
    nbits: int = 64,
    salt: str = "embsig",
) -> DataFrame:
    """Sign-random-projection signatures (Charikar STOC'02 — SimHash
    for VECTORS): ``(doc, sig)`` with bit j = [⟨v, p_j⟩ >= 0] packed
    into one BIGINT. The all-pairs coarse path the query-time LSH
    doesn't give: pairs come from the SAME pigeonhole Hamming layer as
    text SimHash / dHash / b-bit MinHash (four signature families, one
    machinery), and Hamming distance estimates the ANGLE:
    θ ≈ π·hd/nbits, so cos-similarity ≈ cos(π·hd/64).

    Exactness: embeddings floor-quantize to integer millionths FIRST,
    planes are Python-generated ±1 literals, so each dot product is an
    order-free INTEGER sum — bit-for-bit reproducible in DuckDB (no
    float-sum ordering anywhere). ``dim`` defaults to the first row's
    vector length; vectors with a different length or NULL are absent
    from the output (disclosed, not silently truncated).
    """
    if nbits != 64:
        raise ValueError("embedding_simhash_signatures: nbits must be 64 (one BIGINT)")
    if dim is None:
        probe = df.where(F.col(vec_col).isNotNull()).select(
            F.size(vec_col).alias("d")
        ).first()
        if probe is None:
            raise ValueError("embedding_simhash_signatures: empty input")
        dim = int(probe["d"])
    planes = _srp_plane_signs(nbits, dim)
    base = (
        df.where(F.col(vec_col).isNotNull() & (F.size(vec_col) == dim))
        .select(
            F.col(id_col).alias("doc"),
            F.transform(
                F.col(vec_col),
                lambda x: F.floor(x.cast("double") * F.lit(1_000_000)).cast("long"),
            ).alias("_qv"),
        )
    )
    sig = None
    for j, signs in enumerate(planes):
        lit_signs = F.array(*[F.lit(s).cast("long") for s in signs])
        dot = F.aggregate(
            F.zip_with(F.col("_qv"), lit_signs, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bit = F.shiftleft((dot >= 0).cast("long"), j)
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return base.select("doc", sig.alias("sig"))


_SRP_COS_MICRO = None


def _srp_cos_table() -> list[int]:
    """cos(π·hd/64) in signed integer micros for hd = 0..64 — Python-
    computed once, consumed as literals by both engines."""
    global _SRP_COS_MICRO
    if _SRP_COS_MICRO is None:
        import math

        _SRP_COS_MICRO = [
            round(math.cos(math.pi * h / 64.0) * 1_000_000) for h in range(65)
        ]
    return _SRP_COS_MICRO


def embedding_simhash_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str = "vec_id",
    hamming_max: int = 15,
    max_bucket: int = 1000,
    dim: int | None = None,
) -> DataFrame:
    """All-pairs angular near-dup candidates over an embedding column:
    ``(id_a, id_b, hamming, est_cos_micro)`` via
    :func:`embedding_simhash_signatures` + the generic Hamming chunk
    layer (dedup.hamming_near_duplicates). ``est_cos_micro`` =
    cos(π·hd/64) from a 65-entry Python-computed literal table — exact
    integers end to end. hamming_max <= 15 (the 16-chunk pigeonhole
    guarantee); 15 ≈ cos ≥ 0.74."""
    from xmlschemavalidator_spark.dedup import hamming_near_duplicates

    if hamming_max > 15:
        raise ValueError(
            f"embedding_simhash_pairs: hamming_max={hamming_max} exceeds the "
            "16-chunk pigeonhole guarantee (max 15)"
        )
    sigd = embedding_simhash_signatures(df, vec_col, id_col, dim=dim)
    pairs = hamming_near_duplicates(sigd, hamming_max, max_bucket)
    table = F.array(*[F.lit(v).cast("bigint") for v in _srp_cos_table()])
    return pairs.withColumn(
        "est_cos_micro", F.element_at(table, F.col("hamming").cast("int") + 1)
    )


def embedding_centroid_drift(
    df: DataFrame,
    group_col: str,
    vec_col: str,
    dim: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Per-group embedding centroid vs the global centroid:
    ``(group, n, cos_to_global)`` — the drift analyzer the scalar
    families (KS/χ²/PSI) can't provide for a VECTOR column: an encoder
    version bump or a contaminated batch moves a group's mean direction
    long before any single coordinate's histogram trips. Cosine is
    scale-invariant, so the group/global SUM vectors stand in for the
    means — no division until the final chain.

    Exactness: embeddings quantize to integer micros; per-(group, dim)
    sums are exact DECIMAL(38,0) (one explode + partial-agg groupBy —
    the shuffle carries (group, dim, partial sum), bounded by
    groups×dim); the global vector re-aggregates the GROUP table (no
    second corpus pass). dot and the two norms are DECIMAL products of
    exact sums summed over the bounded dim axis; the final
    dot/(√·√) is a fixed three-op double chain, rounded. Vectors of
    the wrong length / NULL are excluded (the signature-family rule).
    """
    if dim is None:
        probe = df.where(F.col(vec_col).isNotNull()).select(
            F.size(vec_col).alias("d")
        ).first()
        if probe is None:
            raise ValueError("embedding_centroid_drift: empty input")
        dim = int(probe["d"])
    base = df.where(F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)).select(
        F.col(group_col).alias("grp"),
        F.posexplode(
            F.transform(
                F.col(vec_col),
                lambda x: F.floor(x.cast("double") * F.lit(1_000_000)).cast(
                    "decimal(38,0)"
                ),
            )
        ).alias("d", "v"),
    )
    per = base.groupBy("grp", "d").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("_c")
    )
    glob = per.groupBy("d").agg(F.sum("s").alias("gs"))
    j = per.join(glob, "d")
    agg = j.groupBy("grp").agg(
        (F.max("_c")).cast("bigint").alias("n"),
        F.sum(F.col("s") * F.col("gs")).alias("_dot"),
        F.sum(F.col("s") * F.col("s")).alias("_na"),
        F.sum(F.col("gs") * F.col("gs")).alias("_nb"),
    )
    cos = F.col("_dot").cast("double") / (
        F.sqrt(F.col("_na").cast("double")) * F.sqrt(F.col("_nb").cast("double"))
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n",
        F.round(
            F.when((F.col("_na") > 0) & (F.col("_nb") > 0), cos), round_to
        ).alias("cos_to_global"),
    )


def jl_project(
    df: DataFrame,
    vec_col: str,
    id_col: str = "vec_id",
    out_dim: int = 16,
    dim: int | None = None,
    salt: str = "jl",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection in the database-friendly
    ±1 form (Achlioptas JCSS'03: sign entries preserve pairwise
    distances within (1±ε) at k = O(ln n/ε²) output dims — no Gaussians
    needed): ``(doc, jl)`` where ``jl[j] = Σᵢ sign_{ji}·qᵢ`` over the
    micro-quantized input vector. The dimensionality-reduction step
    BEFORE the ANN family — 64-dim embeddings shrink to 16 exact
    integers (4× less shuffle weight for brute-force/IVF/LSH consumers)
    while cosines survive within JL tolerance.

    Exactness contract (the embedding_simhash device): inputs floor-
    quantize to integer millionths FIRST, planes are Python-generated
    ±1 literals from md5 (pure function of salt/plane/dim), each output
    coordinate is an order-free INTEGER sum — bit-for-bit reproducible
    in DuckDB. The 1/√k normalization is deliberately OMITTED: cosine
    and ratio consumers are scale-free, and a distance consumer
    multiplies once at the end — keeping the scale exact-integer is
    worth more than a baked-in float.

    Vectors NULL or of a different length are absent from the output
    (disclosed, not silently truncated); one narrow projection, no
    shuffle."""
    if out_dim < 1:
        raise ValueError(f"jl_project: out_dim must be ≥1, got {out_dim}")
    if dim is None:
        probe = df.where(F.col(vec_col).isNotNull()).select(
            F.size(vec_col).alias("d")
        ).first()
        if probe is None:
            raise ValueError("jl_project: empty input")
        dim = int(probe["d"])
    planes = _srp_plane_signs(out_dim, dim, salt)
    base = (
        df.where(F.col(vec_col).isNotNull() & (F.size(vec_col) == dim))
        .select(
            F.col(id_col).alias("doc"),
            F.transform(
                F.col(vec_col),
                lambda x: F.floor(x.cast("double") * F.lit(1_000_000)).cast("long"),
            ).alias("_qv"),
        )
    )
    dots = []
    for signs in planes:
        lit_signs = F.array(*[F.lit(s).cast("long") for s in signs])
        dots.append(
            F.aggregate(
                F.zip_with(F.col("_qv"), lit_signs, lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        )
    return base.select("doc", F.array(*dots).alias("jl"))


def embedding_outliers(
    df: DataFrame,
    vec_col: str,
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 5,
    k_tenths: int = 50,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Embedding-space outlier detection — the OOD/corrupt-vector gate
    in front of the ANN/SemDeDup family (a truncated download, an
    all-zeros batch, or out-of-domain text produces vectors far from
    every cluster; SemDeDup would happily 'dedup' against them):
    k-means centroids (optionally sample-fit), every vector's cosine
    DISTANCE to its OWN nearest centroid, then the Hampel median+MAD
    filter PER CLUSTER (checks/stats.robust_outliers — one operator,
    scalar or embedding inputs). Returns the flagged rows
    ``(id, cluster, dist, med, mad, abs_dev)``.

    Why Hampel, not a global distance threshold: cluster radii differ —
    a fixed threshold either misses outliers of tight clusters or flags
    the whole loose cluster; median+MAD adapts per cluster and one
    far vector cannot move its own cutoff.

    Scale: centroid fit is the kmeans_fit contract (sampled at corpus
    scale); scoring is one narrow literal-centroid projection; the
    Hampel windows partition by the k clusters (bounded by contract).
    Iterative centroids make this rows-only for the oracle gate — the
    planted-outlier recovery is pinned in tests instead."""
    cents = kmeans_fit(
        df, vec_col, k, iters, id_col, sample_fraction=sample_fraction
    )
    dim = len(cents[0])
    cents_arr = F.array(*[_lit_vec(c) for c in cents])
    base = df.where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    ).select(
        F.col(id_col),
        F.transform(
            cents_arr, lambda c: cosine_similarity(F.col(vec_col), c)
        ).alias("_scores"),
    )
    best = base.select(
        id_col,
        (F.array_position(F.col("_scores"), F.array_max(F.col("_scores"))) - 1)
        .cast("int")
        .alias("cluster"),
        F.round(F.lit(1.0) - F.array_max(F.col("_scores")), 6).alias("dist"),
    )
    from xmlschemavalidator_spark.checks.stats import robust_outliers

    return robust_outliers(best, "dist", id_col, ("cluster",), k_tenths)


def ann_recall_report(
    exact: DataFrame,
    approx: DataFrame,
    query_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN method evaluation — recall@k of an approximate neighbor set
    against exact truth, per query → ``(query_id, n_exact, n_approx,
    n_hit, recall_micro)``; the similarity-search twin of the near-dup
    method evaluation (an ANN path without a measured recall table is
    a guess, and IVF nprobe / LSH table counts are chosen BY this
    number).

    Both inputs are (query, neighbor-id) sets of any provenance
    (brute_force_topk, ivf_topk, lsh/hyperplane candidates);
    deduplicated defensively, intersected with ONE join, ratios exact
    integer micros. Bounded by queries×k rows end-to-end.
    """
    e = exact.select(
        F.col(query_col).alias("q"), F.col(id_col).alias("n")
    ).distinct()
    a = approx.select(
        F.col(query_col).alias("q"), F.col(id_col).alias("n")
    ).distinct()
    ne = e.groupBy("q").agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    na = a.groupBy("q").agg(F.count(F.lit(1)).cast("bigint").alias("n_approx"))
    nh = (
        e.join(a, ["q", "n"])
        .groupBy("q")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    )
    return (
        ne.join(na, "q", "left")
        .join(nh, "q", "left")
        .select(
            F.col("q").alias(query_col),
            "n_exact",
            F.coalesce(F.col("n_approx"), F.lit(0)).cast("bigint").alias("n_approx"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
            F.expr(
                "CASE WHEN n_exact > 0 THEN"
                " coalesce(n_hit, 0) * 1000000 div n_exact END"
            ).alias("recall_micro"),
        )
    )


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    quantum: int = 1_000_000,
    round_to: int = 9,
) -> DataFrame:
    """Exact population covariance matrix of an embedding column —
    upper triangle as ``(i, j, cov)`` rows plus the diagnosis the
    spectrum carries: anisotropy/collapse detection (an embedding model
    degrading toward a few directions shows up as trace concentrating
    into a handful of diagonal cells and off-diagonals growing — the
    failure cosine-similarity checks can't see, because collapsed
    embeddings still cosine-match THEMSELVES perfectly), and the input
    PCA/whitening needs.

    Implementation is the engine's one deliberate Arrow-heavy exact
    path: vectors quantize to integer micros INSIDE a ``mapInPandas``
    that emits per-chunk int64 partial products (Q^T Q over ≤ 10k-row
    chunks — bounded so the partial cannot overflow for |x| ≤ 10,
    asserted), and Spark sums the partials in DECIMAL(38,0). Every
    intermediate is an exact integer, so the result is order-free and
    value-identical to the DuckDB self-join replay — an Arrow-UDF path
    the driver can hash-check, which float accumulation would never be.

    Scale shape: ONE corpus pass; the shuffle carries
    chunks × dim(dim+1)/2 partial rows (2080 at dim 64), never vectors.
    Mean terms ride the same partials (j = −1 rows; the (−1,−1) row is
    the count). NULL/odd-length vectors are skipped and counted into
    the (−2,−2) audit row — no silent drops.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("s", T.LongType()),
        ]
    )
    qf = float(quantum)

    def partials(batches):
        for pdf in batches:
            vecs = pdf[vec_col]
            ok = vecs.map(lambda v: v is not None)
            skipped = int((~ok).sum())
            arrs = [np.asarray(v, dtype=np.float64) for v in vecs[ok]]
            dims = {a.shape[0] for a in arrs}
            if len(dims) > 1:
                # ragged vectors: keep the modal dim, audit the rest
                from collections import Counter

                keep_dim = Counter(a.shape[0] for a in arrs).most_common(1)[0][0]
                skipped += sum(1 for a in arrs if a.shape[0] != keep_dim)
                arrs = [a for a in arrs if a.shape[0] == keep_dim]
            out = []
            if skipped:
                out.append((-2, -2, skipped))
            if arrs:
                X = np.stack(arrs)
                assert np.abs(X).max() <= 10.0, (
                    "embedding_covariance: |x| > 10 breaks the int64 "
                    "partial bound; rescale first"
                )
                Q = np.floor(X * qf).astype(np.int64)
                d = Q.shape[1]
                iu = np.triu_indices(d)
                for lo in range(0, Q.shape[0], 10_000):
                    C = Q[lo : lo + 10_000]
                    M = C.T @ C                      # int64-exact: see bound
                    sx = C.sum(axis=0)
                    rows = [(-1, -1, int(C.shape[0]))]
                    rows += [(int(i), -1, int(sx[i])) for i in range(d)]
                    rows += [
                        (int(i), int(j), int(M[i, j]))
                        for i, j in zip(iu[0], iu[1])
                    ]
                    out.extend(rows)
            if out:
                yield pd.DataFrame(out, columns=["i", "j", "s"])

    parts = df.select(vec_col).mapInPandas(partials, schema=schema)
    summed = parts.groupBy("i", "j").agg(
        F.sum(F.col("s").cast("decimal(38,0)")).alias("_s")
    )
    n = summed.where((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("_s").cast("double").alias("_n")
    )
    means = summed.where((F.col("i") >= 0) & (F.col("j") == -1)).select(
        F.col("i").alias("_mi"), F.col("_s").cast("double").alias("_sx")
    )
    cross = summed.where(F.col("j") >= 0)
    mj = means.select(
        F.col("_mi").alias("_mj"), F.col("_sx").alias("_sxj")
    )
    out = (
        cross.crossJoin(F.broadcast(n))
        .join(F.broadcast(means), cross["i"] == means["_mi"])
        .join(F.broadcast(mj), cross["j"] == mj["_mj"])
    )
    qd = F.lit(qf)
    cov = (
        F.col("_s").cast("double")
        - F.col("_sx") * F.col("_sxj") / F.col("_n")
    ) / F.col("_n") / (qd * qd)
    covs = out.select(
        "i",
        "j",
        F.round(cov, round_to).alias("cov"),
    )
    # the skipped-vector audit row rides along as (-2, -2, count) so the
    # drop is visible in the same result (no silent exclusions)
    audit = summed.where(F.col("i") == -2).select(
        "i", "j", F.round(F.col("_s").cast("double"), round_to).alias("cov")
    )
    return covs.unionByName(audit)


def embedding_spectrum(
    df: DataFrame,
    vec_col: str = "embedding",
    quantum: int = 1_000_000,
    round_to: int = 6,
):
    """Spectral summary of :func:`embedding_covariance` — the one-row
    collapse VERDICT on top of the matrix: ``(dim, n_skipped, trace,
    top_eig, top_share, effective_rank)`` where effective_rank =
    (Σλ)²/Σλ² (the participation ratio — 64 for isotropic Gaussian
    embeddings at dim 64, →1 as the model collapses onto one
    direction) and top_share = λ₁/Σλ.

    The eigendecomposition runs DRIVER-side on the collected matrix —
    an explicit dim(dim+1)/2-row bound (2080 cells at dim 64), the
    centroid/model-table collect contract, never corpus-sized. numpy
    ``eigh`` on the symmetrized matrix; engine-specific by design
    (eigensolvers aren't SQL), so the driver entry is rows-only and the
    exactness story lives in the covariance query underneath this one.
    Returns a 1-row DataFrame built on the input's session.
    """
    import numpy as np

    rows = embedding_covariance(df, vec_col, quantum=quantum).collect()
    skipped = 0
    cells = {}
    for r in rows:
        if r["i"] == -2:
            skipped = int(r["cov"])
        else:
            cells[(r["i"], r["j"])] = r["cov"]
    dim = max((i for i, _ in cells), default=-1) + 1
    spark = df.sparkSession
    if dim == 0:
        return spark.createDataFrame(
            [(0, skipped, None, None, None, None)],
            "dim int, n_skipped bigint, trace double, top_eig double,"
            " top_share double, effective_rank double",
        )
    M = np.zeros((dim, dim))
    for (i, j), c in cells.items():
        M[i, j] = c
        M[j, i] = c
    eig = np.linalg.eigvalsh(M)
    eig = np.clip(eig, 0.0, None)  # rounding can dip epsilon-negative
    tr, top = float(eig.sum()), float(eig.max())
    s2 = float((eig * eig).sum())
    return spark.createDataFrame(
        [
            (
                int(dim),
                int(skipped),
                round(tr, round_to),
                round(top, round_to),
                round(top / tr, round_to) if tr > 0 else None,
                round(tr * tr / s2, round_to) if s2 > 0 else None,
            )
        ],
        "dim int, n_skipped bigint, trace double, top_eig double,"
        " top_share double, effective_rank double",
    )


def simplified_silhouette(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Simplified silhouette (Hruschka et al. 2004 — the centroid-based
    silhouette that drops the O(n²) pairwise term): the clustering-
    quality verdict the IVF/SemDeDup stack runs WITHOUT today (recall
    curves grade the INDEX; nothing grades whether the k-means
    partition is real structure or arbitrary slicing). Per point:
    a = distance to OWN centroid, b = distance to the nearest OTHER
    centroid, s = (b − a)/max(a, b) ∈ [−1, 1]. One row per cluster
    plus the '<all>' rollup: ``(cluster, n, mean_silhouette,
    n_negative)`` — mean s near 0 = clusters touching (SemDeDup's
    max_cluster refusals will fire arbitrarily), negative-s points sit
    closer to a neighbor's centroid than their own (assignment-border
    mass; a high share says nprobe must rise to hold recall).

    Distances are cosine (the engine's similarity metric throughout):
    d = 1 − cos. ALL k cosines are computed once into a scores array
    and a/b argmax'd from it (the ivf_assign CSE discipline — never a
    when-chain re-embedding k subtrees). Engine-specific by design
    (centroids come from a Spark kmeans_fit — oracle_sql is static and
    cannot depend on data), so the driver entry is rows-only; the math
    is pinned by a bit-exact Python replay test instead.

    Scale shape: one narrow projection (k cosines per row) + one
    #clusters-row aggregate; no joins, no windows, nothing quadratic.
    """
    if len(centroids) < 2:
        raise ValueError("simplified_silhouette: need >= 2 centroids")
    cents = F.array(*[_lit_vec(c) for c in centroids])
    scores = F.transform(
        cents, lambda c: cosine_similarity(F.col(vec_col).cast("array<double>"), c)
    )
    staged = df.select(F.col(id_col).alias("_id"), scores.alias("_s"))
    # let-bind best/own as real columns BEFORE the index filter: HOF
    # lambda subtrees are not CSE'd, so referencing the argmax inside
    # the per-element lambda would re-evaluate it k times per row
    staged = staged.select(
        "_id",
        "_s",
        F.array_max(F.col("_s")).alias("_best"),
        (F.array_position(F.col("_s"), F.array_max(F.col("_s"))) - 1)
        .cast("int")
        .alias("_own"),
    )
    # nearest-other cosine: max of the array with the own slot removed
    second = F.array_max(
        F.filter(F.col("_s"), lambda x, i: i != F.col("_own"))
    )
    a = F.lit(1.0) - F.col("_best")
    b = F.lit(1.0) - second
    s = F.when(
        F.greatest(a, b) > 0, (b - a) / F.greatest(a, b)
    ).otherwise(F.lit(0.0))
    per_point = staged.select(F.col("_own").alias("cluster"), s.alias("_sil"))
    per_cluster = per_point.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.avg("_sil"), round_to).alias("mean_silhouette"),
        F.sum((F.col("_sil") < 0).cast("long")).cast("bigint").alias("n_negative"),
    )
    overall = per_point.agg(
        F.lit(-1).cast("int").alias("cluster"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.avg("_sil"), round_to).alias("mean_silhouette"),
        F.sum((F.col("_sil") < 0).cast("long")).cast("bigint").alias("n_negative"),
    )
    return per_cluster.unionByName(overall)


def hard_negative_mining(
    corpus: DataFrame,
    positives: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_col: str = "query_id",
    pos_col: str = "positive_id",
    k: int = 5,
    round_to: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR recipe —
    Karpukhin et al. EMNLP'20 §3.2: the negatives that matter are the
    HIGHEST-scoring non-positives, not random ones): for every query id
    in ``positives`` (query_id, positive_id), rank the corpus by cosine
    to the query's own embedding, drop the query itself and ALL its
    declared positives, and keep the top ``k`` as hard negatives.
    Returns ``(query_id, neg_id, cosine, rank, best_pos_cosine,
    margin)`` — margin = best_pos_cosine − cosine, the curriculum
    signal (near-zero or negative margin = the negative the model most
    needs / a mislabeled positive to audit).

    Exactness: cosines round to 5dp BEFORE ranking (the repo-wide
    oracle-parity convention — ordering is then a property both engines
    share), ties break on neg id; margins are differences of rounded
    values. Disclosed scale shape: this is the BRUTE-FORCE miner —
    O(queries × corpus) cosine evaluations via one broadcast of the
    (bounded) query-embedding table and a per-query top-k window
    (rank ≤ k over a corpus-sized partition keyed by query). Mine in
    query batches; for web-scale corpora swap the candidate generator
    for the IVF/LSH path and keep the same anti-join + window tail.

    Reference scope note: eliassona/xmlschemavalidator has no vector
    layer (core.clj:263-285); north-rule addition to the ANN family.
    """
    from pyspark.sql import Window

    from xmlschemavalidator_spark.dedup import cosine_similarity

    qids = positives.select(
        F.col(query_col).alias("_qid")
    ).distinct()
    qemb = corpus.join(
        F.broadcast(qids), F.col(id_col) == F.col("_qid")
    ).select(
        "_qid", F.col(vec_col).cast("array<double>").alias("_qv")
    )
    cand = corpus.select(
        F.col(id_col).alias("neg_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    )
    cos = F.round(
        cosine_similarity(F.col("_qv"), F.col("_cv")), round_to
    )
    scored = (
        cand.crossJoin(F.broadcast(qemb))
        .where(F.col("neg_id") != F.col("_qid"))
        .select(F.col("_qid").alias("query_id"), "neg_id", cos.alias("cosine"))
    )
    pos_pairs = positives.select(
        F.col(query_col).alias("query_id"), F.col(pos_col).alias("neg_id")
    ).distinct()
    nonpos = scored.join(
        F.broadcast(pos_pairs), ["query_id", "neg_id"], "left_anti"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neg_id").asc()
    )
    topk = (
        nonpos.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
    best_pos = (
        scored.join(F.broadcast(pos_pairs), ["query_id", "neg_id"])
        .groupBy("query_id")
        .agg(F.max("cosine").alias("best_pos_cosine"))
    )
    return (
        topk.join(F.broadcast(best_pos), "query_id", "left")
        .select(
            "query_id",
            "neg_id",
            "cosine",
            "rank",
            "best_pos_cosine",
            F.round(F.col("best_pos_cosine") - F.col("cosine"), round_to).alias(
                "margin"
            ),
        )
        .orderBy("query_id", "rank")
    )


def hard_negative_oracle_sql(
    corpus_sql: str,
    positives_sql: str,
    k: int = 5,
    round_to: int = 5,
) -> str:
    """DuckDB replay of :func:`hard_negative_mining`; ``corpus_sql``
    yields (vec_id, embedding), ``positives_sql`` yields (query_id,
    positive_id). Same rounded-before-rank cosines, same tie order."""
    cos = (
        "round(list_dot_product(q.emb, c.emb)"
        " / (sqrt(list_dot_product(q.emb, q.emb))"
        " * sqrt(list_dot_product(c.emb, c.emb))), %d)" % round_to
    )
    return f"""WITH corpus AS (SELECT vec_id,
        embedding::DOUBLE[] AS emb FROM ({corpus_sql})),
pos AS (SELECT DISTINCT query_id, positive_id FROM ({positives_sql})),
qemb AS (SELECT DISTINCT p.query_id AS qid, c.emb
         FROM pos p JOIN corpus c ON c.vec_id = p.query_id),
scored AS (SELECT q.qid AS query_id, c.vec_id AS neg_id, {cos} AS cosine
           FROM corpus c, qemb q WHERE c.vec_id <> q.qid),
nonpos AS (SELECT s.* FROM scored s
           WHERE NOT EXISTS (SELECT 1 FROM pos p
                WHERE p.query_id = s.query_id AND p.positive_id = s.neg_id)),
topk AS (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neg_id ASC) AS rank
         FROM nonpos QUALIFY rank <= {k}),
bp AS (SELECT s.query_id, max(s.cosine) AS best_pos_cosine
       FROM scored s JOIN pos p
         ON p.query_id = s.query_id AND p.positive_id = s.neg_id
       GROUP BY s.query_id)
SELECT t.query_id, t.neg_id, t.cosine, CAST(t.rank AS INT) AS rank,
  bp.best_pos_cosine,
  round(bp.best_pos_cosine - t.cosine, {round_to}) AS margin
FROM topk t LEFT JOIN bp USING (query_id)
ORDER BY t.query_id, t.rank"""


def mmr_rerank(
    candidates: DataFrame,
    query_col: str = "query_id",
    id_col: str = "cand_id",
    rel_col: str = "rel_micro",
    vec_col: str = "embedding",
    k: int = 10,
    lambda_milli: int = 700,
    max_candidates: int = 256,
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein
    SIGIR'98): per query, greedily pick k results trading relevance
    against redundancy —

        next = argmax_c  λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)

    — the diversity tail every retrieval stack bolts onto its ANN
    top-N (near-duplicate hits crowd out coverage otherwise). Returns
    ``(query_id, rank, cand_id, mmr_micro)``.

    All-integer greedy, no Python: relevance arrives in micro units,
    cosine similarities floor-quantize to micro (the shared libm/floor
    contract), and the MMR objective is kept UNSCALED as
    ``λ_milli·rel − (1000−λ_milli)·maxsim`` — exact BIGINT compares,
    ties broken by smallest candidate id via struct-max over
    (mmr, −id). The whole per-query loop is ONE ``aggregate`` over
    ``sequence(1, k)`` with a (selected, emitted) struct accumulator —
    one lambda, k iterations, no k× expression expansion (the HOF-CSE
    rule); per-step cost O(R·|selected|·d) on a per-query row.

    Scale shape: per-query candidate lists collect to ONE row via
    collect_list — bounded by ``max_candidates`` (lists above it are
    REFUSED with a raise: rerank consumes an upstream top-N, never a
    corpus). Engine-specific by design (rows-only driver check); the
    arithmetic is pinned bit-exact by the pure-Python replay in
    tests (:func:`mmr_rerank_py`).
    """
    from pyspark.sql.utils import AnalysisException  # noqa: F401

    cands = (
        candidates.where(
            F.col(query_col).isNotNull() & F.col(id_col).isNotNull()
        )
        .groupBy(F.col(query_col).alias("query_id"))
        .agg(
            F.collect_list(
                F.struct(
                    F.col(id_col).cast("bigint").alias("id"),
                    F.col(rel_col).cast("bigint").alias("rel"),
                    F.col(vec_col).cast("array<double>").alias("emb"),
                )
            ).alias("_cands")
        )
    )
    oversize = cands.where(F.size("_cands") > max_candidates)
    n_over = oversize.count()
    if n_over:
        raise ValueError(
            f"mmr_rerank: {n_over} quer{'y' if n_over == 1 else 'ies'} carry "
            f"more than max_candidates={max_candidates} candidates — rerank "
            "consumes an upstream top-N, never a corpus; cap the candidate "
            "generator or raise max_candidates explicitly"
        )

    def sim_micro(a, b):
        dot = F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        na = F.sqrt(
            F.aggregate(
                F.transform(a, lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        nb = F.sqrt(
            F.aggregate(
                F.transform(b, lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        return F.when(
            (na > 0) & (nb > 0),
            F.floor(dot / (na * nb) * F.lit(1_000_000.0)).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))

    lam = F.lit(int(lambda_milli)).cast("bigint")
    one_m_lam = F.lit(int(1000 - lambda_milli)).cast("bigint")
    sel_t = "array<struct<id:bigint,emb:array<double>>>"
    out_t = "array<struct<rank:int,cand_id:bigint,mmr_micro:bigint>>"

    def step(acc, i):
        sel = acc["sel"]
        remaining = F.filter(
            F.col("_cands"),
            lambda c: ~F.exists(sel, lambda s: s["id"] == c["id"]),
        )
        scored = F.transform(
            remaining,
            lambda c: F.struct(
                (
                    lam * c["rel"]
                    - F.when(
                        F.size(sel) > 0,
                        one_m_lam
                        * F.array_max(
                            F.transform(
                                sel, lambda s: sim_micro(c["emb"], s["emb"])
                            )
                        ),
                    ).otherwise(F.lit(0).cast("bigint"))
                ).alias("mmr"),
                (-c["id"]).alias("negid"),
                c["id"].alias("id"),
                c["emb"].alias("emb"),
            ),
        )
        best = F.array_max(scored)
        return F.when(
            F.size(remaining) > 0,
            F.struct(
                F.concat(
                    sel,
                    F.array(
                        F.struct(
                            best["id"].alias("id"), best["emb"].alias("emb")
                        )
                    ),
                ).alias("sel"),
                F.concat(
                    acc["out"],
                    F.array(
                        F.struct(
                            i.cast("int").alias("rank"),
                            best["id"].alias("cand_id"),
                            best["mmr"].alias("mmr_micro"),
                        )
                    ),
                ).alias("out"),
            ),
        ).otherwise(acc)

    picked = cands.select(
        "query_id",
        F.aggregate(
            F.sequence(F.lit(1), F.lit(int(k))),
            F.struct(
                F.array().cast(sel_t).alias("sel"),
                F.array().cast(out_t).alias("out"),
            ),
            step,
            lambda acc: acc["out"],
        ).alias("_out"),
    )
    return picked.select(
        "query_id", F.explode("_out").alias("_r")
    ).select(
        "query_id",
        F.col("_r.rank").alias("rank"),
        F.col("_r.cand_id").alias("cand_id"),
        F.col("_r.mmr_micro").alias("mmr_micro"),
    ).orderBy("query_id", "rank")


def mmr_rerank_py(
    cands: list[tuple[int, int, list[float]]],
    k: int = 10,
    lambda_milli: int = 700,
) -> list[tuple[int, int, int]]:
    """Bit-exact pure-Python replay of one query's :func:`mmr_rerank`
    loop — (rank, cand_id, mmr_micro) — the parity reference for tests
    (same floor-micro cosines, same integer objective, same min-id tie
    break)."""
    import math

    def simf(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        if na <= 0 or nb <= 0:
            return 0
        return math.floor(dot / (na * nb) * 1_000_000)

    sel: list[tuple[int, list[float]]] = []
    out = []
    rank = 0
    while rank < k:
        remaining = [c for c in cands if all(c[0] != s[0] for s in sel)]
        if not remaining:
            break
        best = None
        for cid, rel, emb in remaining:
            maxsim = max((simf(emb, s[1]) for s in sel), default=None)
            mmr = lambda_milli * rel - (
                (1000 - lambda_milli) * maxsim if maxsim is not None else 0
            )
            key = (mmr, -cid)
            if best is None or key > best[0]:
                best = (key, cid, emb, mmr)
        rank += 1
        out.append((rank, best[1], best[3]))
        sel.append((best[1], best[2]))
    return out

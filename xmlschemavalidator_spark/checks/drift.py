"""Distribution-drift checks: KS-style max-CDF-gap between a current table
and a baseline snapshot.

Two formulations:

* :func:`histogram` + :func:`ks_drift` — EXACT: bucketed counts → cumulative
  distribution → max |gap|. Bucket counts are a tiny partial+final aggregate
  (one shuffle of #buckets rows); the CDF join runs on #buckets rows, so the
  whole check is O(scan) at any scale and reproducible bit-for-bit (integer
  arithmetic until the final division). This is the oracle-checkable path.
* :func:`quantile_drift` — SKETCHED: ``percentile_approx`` (Greenwald-Khanna
  in Spark) on both sides over a quantile grid, max |baseline - current|
  normalized. Constant memory per partition, the 100 TB default when the
  value domain is unbounded/continuous.

The baseline snapshot is any DataFrame with the same shape (typically read
from the metrics manifest of a previous run — see manifest.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def histogram(df: DataFrame, column: str, bucket_width: float) -> DataFrame:
    """(bucket, n): bucket = floor(value / width). Nulls are dropped (drift
    over observed values; null-rate drift is covered by column_stats)."""
    bucket = F.floor(F.col(column) / F.lit(bucket_width)).cast("long")
    return (
        df.where(F.col(column).isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def ks_drift(current_hist: DataFrame, baseline_hist: DataFrame) -> DataFrame:
    """Max |CDF_current(b) - CDF_baseline(b)| over the union of buckets.

    Returns a 1-row DataFrame ``(ks_stat: double)``. Runs entirely on
    #buckets rows — the window sort is over a tiny frame, not the data.

    Degenerate inputs (no judgement is better than a fabricated one): if a
    side has no observations, its CDF is undefined and ``ks_stat`` is NULL
    — never a division by zero. Single-bucket inputs are fine (identical →
    0.0, fully disjoint → 1.0).
    """
    cur = current_hist.select("bucket", F.col("n").alias("n_cur"))
    base = baseline_hist.select("bucket", F.col("n").alias("n_base"))
    joined = cur.join(base, on="bucket", how="full_outer").fillna(
        0, subset=["n_cur", "n_base"]
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    tot_cur = F.sum("n_cur").over(Window.partitionBy())
    tot_base = F.sum("n_base").over(Window.partitionBy())
    cdf = joined.select(
        F.when(tot_cur > 0, F.sum("n_cur").over(w) / tot_cur).alias("cdf_cur"),
        F.when(tot_base > 0, F.sum("n_base").over(w) / tot_base).alias("cdf_base"),
    )
    return cdf.agg(F.max(F.abs(F.col("cdf_cur") - F.col("cdf_base"))).alias("ks_stat"))


def categorical_histogram(df: DataFrame, column: str) -> DataFrame:
    """(category, n) counts of a categorical column — the χ² input. One
    partial+final aggregate; NULLs dropped (null-rate drift is covered by
    column_stats, same convention as :func:`histogram`)."""
    return (
        df.where(F.col(column).isNotNull())
        .groupBy(F.col(column).alias("category"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def chi_squared_drift(
    current_hist: DataFrame, baseline_hist: DataFrame
) -> DataFrame:
    """χ²-style categorical drift between two count histograms, in the
    scale-free SHARE form: both sides are normalized to per-million
    integer shares ``s = n·10⁶ div T`` and the statistic is
    ``Σ (s_cur − s_base)² div max(s_base, 1)`` (micro units) — i.e.
    χ² over the share distributions, Σ(p−q)²/q, not over raw counts.

    Why shares, not counts: at 10¹² rows the count-form χ² explodes
    (every microscopic imbalance is "significant" and the squared terms
    overflow 64-bit); the share form is invariant to corpus growth, so
    one alert threshold works at every scale. Why integer micro units:
    ``n·10⁶`` stays inside BIGINT to T ≈ 9·10¹² rows and floor division
    is bit-identical across engines — no float ratio ever materializes,
    so the statistic is hash-exact, not approximately reproducible.

    Categories NEW in current (s_base = 0) contribute with denominator 1
    (their full squared share — a new dominant category must spike the
    statistic) and are also counted separately in ``n_new_categories``;
    categories that vanished contribute s_base² the same way. Returns
    ONE row ``(chi2, n_categories, n_new_categories)``; NULL chi2 when
    either side is empty (no judgement over an undefined distribution).

    Scale shape: both inputs are already aggregated (#categories rows);
    the join + window totals run on that tiny frame — O(scan) total at
    any corpus size, like :func:`ks_drift`.
    """
    cur = current_hist.select("category", F.col("n").alias("n_cur"))
    base = baseline_hist.select("category", F.col("n").alias("n_base"))
    joined = cur.join(base, on="category", how="full_outer").fillna(
        0, subset=["n_cur", "n_base"]
    )
    t_cur = F.sum("n_cur").over(Window.partitionBy())
    t_base = F.sum("n_base").over(Window.partitionBy())
    shares = joined.select(
        F.expr("n_cur * 1000000").alias("_nc6"),
        F.expr("n_base * 1000000").alias("_nb6"),
        t_cur.alias("_tc"),
        t_base.alias("_tb"),
        F.col("n_base"),
    ).select(
        F.expr("CASE WHEN _tc > 0 THEN _nc6 div _tc END").alias("s_cur"),
        F.expr("CASE WHEN _tb > 0 THEN _nb6 div _tb END").alias("s_base"),
        "n_base",
    )
    term = F.expr(
        "(s_cur - s_base) * (s_cur - s_base) div greatest(s_base, CAST(1 AS BIGINT))"
    )
    return shares.agg(
        F.round(F.sum(term) / F.lit(1000000.0), 6).alias("chi2"),
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
        F.sum(
            F.when((F.col("n_base") == 0), F.lit(1)).otherwise(F.lit(0))
        ).cast("bigint").alias("n_new_categories"),
    )


# Benford expected first-digit shares log10(1 + 1/d), floored to integer
# micro units — they sum to exactly 1_000_000, so the micro-share compare
# needs no residual bucket. Driver-side constants: the only transcendental
# in the whole check is evaluated once, here, not per engine.
BENFORD_MICRO = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def benford_first_digit(df: DataFrame, column: str) -> DataFrame:
    """Benford's-law first-significant-digit audit of a positive numeric
    column — the classic fabricated/synthetic-data smell test (organic
    magnitudes follow log10(1+1/d); uniform or hand-entered values
    don't). Returns one row per digit 1–9:
    ``(digit, n, share_micro, expected_micro, dev_micro)``.

    Exactness contract: values are quantized to integer hundredths
    (``floor(v·100)``, so 0.01 ≤ v keeps its leading digit; v ≤ 0 and
    |v| < 0.01 are out of scope and dropped) and the first digit is the
    first character of the INTEGER's decimal string — integer→string is
    identical across engines, unlike double→string (scientific notation)
    or a log10-based digit extraction (not correctly rounded; wrong at
    exact powers of ten). Shares are ``n·10⁶ div T`` floor divisions;
    the expected table is the literal :data:`BENFORD_MICRO`. Every
    output cell is integer arithmetic — hash-exact.

    Scale: one partial+final aggregate into ≤9 groups; the digit-9 join
    frame is 9 literal rows.
    """
    m = F.floor(F.col(column) * F.lit(100)).cast("long")
    digit = F.substring(F.col("_m").cast("string"), 1, 1).cast("int")
    counts = (
        # the upper bound keeps floor(v*100) inside BIGINT under ANSI
        # mode (one absurd outlier must not kill the whole audit job);
        # values that large are out of scope for a leading-digit test
        df.where(F.col(column).isNotNull() & (F.col(column) < F.lit(9.0e15)))
        .select(m.alias("_m"))
        .where(F.col("_m") > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spark = df.sparkSession
    expected = spark.createDataFrame(
        [(d, e) for d, e in BENFORD_MICRO.items()], "digit int, expected_micro long"
    )
    total = F.sum("n").over(Window.partitionBy())
    return (
        expected.join(counts, on="digit", how="left")
        .fillna(0, subset=["n"])
        .withColumn("_t", total)
        .select(
            "digit",
            F.col("n").cast("bigint").alias("n"),
            F.expr(
                "CASE WHEN _t > 0 THEN n * 1000000 div _t ELSE CAST(0 AS BIGINT) END"
            ).alias("share_micro"),
            F.col("expected_micro"),
        )
        .withColumn(
            "dev_micro", F.abs(F.col("share_micro") - F.col("expected_micro"))
        )
        .orderBy("digit")
    )


def quantile_drift(
    current: DataFrame,
    baseline: DataFrame,
    column: str,
    quantiles: list[float] | None = None,
    accuracy: int = 10000,
) -> DataFrame:
    """Sketch-based drift: per-grid-point |q_cur - q_base| / IQR_base.

    Returns ``(quantile, value_cur, value_base, gap)`` — the caller applies
    its threshold. ``percentile_approx`` aggregates with mergeable sketches,
    so both sides are one pass each regardless of size.
    """
    qs = quantiles or [0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99]
    qlit = F.array(*[F.lit(q) for q in qs])

    def _q(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.percentile_approx(F.col(column), qlit, F.lit(accuracy)).alias(name)
        )

    cur = _q(current, "vc")
    base = _q(baseline, "vb")
    both = cur.crossJoin(base).select(
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(q) for q in qs]).alias("quantile"),
                F.col("vc").alias("value_cur"),
                F.col("vb").alias("value_base"),
            )
        ).alias("z")
    ).select("z.quantile", "z.value_cur", "z.value_base")
    iqr = F.abs(
        F.max(F.when(F.col("quantile") == 0.75, F.col("value_base"))).over(Window.partitionBy())
        - F.max(F.when(F.col("quantile") == 0.25, F.col("value_base"))).over(Window.partitionBy())
    )
    return both.withColumn(
        "gap",
        F.abs(F.col("value_cur") - F.col("value_base"))
        / F.when(iqr > 0, iqr).otherwise(F.lit(1.0)),
    )


def equiheight_histogram(
    df: DataFrame, column: str, id_col: str, k: int = 10, round_to: int = 6
) -> DataFrame:
    """Equi-HEIGHT histogram (k buckets of ~equal row count): per bucket
    ``(bucket, n, lo, hi)`` — the drift input for SKEWED columns, where
    the equi-width :func:`histogram` puts 99% of rows in one bucket and
    the KS gap goes blind. Pairs with :func:`ks_drift` the same way
    (bucket counts in, max CDF gap out) once both sides bucket by the
    BASELINE's boundaries.

    Exactness: buckets come from ``ntile(k)`` over the total order
    (value, id) — the deterministic tie-break, so bucket membership is
    a pure function of the multiset and the histogram is hash-exact
    (percentile_approx boundaries are sketch-dependent; these are
    rank-exact). NULLs dropped (null-rate drift lives in column_stats).

    Scale: ntile over an ungrouped window is ONE global sort partition —
    report-grade, like the other exact-rank paths; the sketched
    quantile_drift is the corpus-scale default. The exact form is its
    correctness oracle.
    """
    base = df.where(F.col(column).isNotNull()).select(
        F.col(column).cast("double").alias("_v"), F.col(id_col).alias("_id")
    )
    w = Window.orderBy(F.col("_v").asc(), F.col("_id").asc())
    return (
        base.withColumn("bucket", F.ntile(k).over(w))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.min("_v"), round_to).alias("lo"),
            F.round(F.max("_v"), round_to).alias("hi"),
        )
    )


def psi_drift(
    current_hist: DataFrame, baseline_hist: DataFrame, round_to: int = 6
) -> DataFrame:
    """Population Stability Index between two count histograms — the
    model-monitoring industry standard next to χ² (:func:`chi_squared_
    drift`) and KS (:func:`ks_drift`): ``PSI = Σ (p_i − q_i)·ln(p_i/q_i)``
    with the usual reading 0.1 = drifting, 0.25 = act. PSI weights by
    the LOG ratio, so a category going 0.1% → 1% screams where χ²'s
    squared-share term barely whispers — the early-warning shape.

    Zero-count convention: add-one (Laplace) on BOTH sides over the
    union category set, ``p_i = (c_i + 1)/(C + K)`` — PSI is then always
    finite and the convention is symmetric and deterministic (the
    common ε hack makes the statistic depend on an arbitrary ε; add-one
    ties it to the data size). Disclosed in the output: raw
    ``n_new_categories``/``n_gone_categories`` sit beside the statistic.

    Exactness (the entropy contract): each term's argument is an exact
    rational of integer counts in a fixed double chain; terms round to
    12 dp then sum in DECIMAL(20,12) — order-independent; only ln's
    last ulp on identical doubles crosses engines, kept out of the hash
    by the pre-sum rounding. NULL PSI when either side is empty.

    Scale: both inputs are pre-aggregated histograms; everything here
    runs on #categories rows.
    """
    cur = current_hist.select("category", F.col("n").alias("n_cur"))
    base = baseline_hist.select("category", F.col("n").alias("n_base"))
    joined = cur.join(base, on="category", how="full_outer").fillna(
        0, subset=["n_cur", "n_base"]
    )
    w = Window.partitionBy()
    t_cur = F.sum("n_cur").over(w)
    t_base = F.sum("n_base").over(w)
    k = F.count(F.lit(1)).over(w)
    sh = joined.select(
        "n_cur",
        "n_base",
        t_cur.alias("_tc"),
        t_base.alias("_tb"),
        k.alias("_k"),
    )
    p = (F.col("n_cur") + 1).cast("double") / (F.col("_tc") + F.col("_k")).cast("double")
    q = (F.col("n_base") + 1).cast("double") / (F.col("_tb") + F.col("_k")).cast("double")
    term = F.round((p - q) * F.log(p / q), 12).cast("decimal(20,12)")
    return sh.agg(
        F.when(
            (F.max("_tc") > 0) & (F.max("_tb") > 0),
            F.round(F.sum(term), round_to).cast("double"),
        ).alias("psi"),
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
        F.sum(F.when(F.col("n_base") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_new_categories"),
        F.sum(F.when(F.col("n_cur") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_gone_categories"),
    )


# ln(2) as a fixed double literal (driver-side constant, the
# BENFORD_MICRO convention: the transcendental is evaluated once, here)
_LN2 = 0.6931471805599453


def jsd_drift(
    current_hist: DataFrame, baseline_hist: DataFrame, round_to: int = 6
) -> DataFrame:
    """Jensen–Shannon divergence between two count histograms — the
    bounded, symmetric member of the drift family (χ², KS, PSI):
    ``JSD = ½·KL(p‖m) + ½·KL(q‖m)`` with ``m = (p+q)/2``. Unlike PSI it
    needs NO zero-count smoothing (0·ln0 = 0 and the mixture m is
    positive wherever either side is), so a category present on one
    side only contributes exactly its share·ln2 — new/vanished
    categories are measured, not epsilon-hacked. Bounded by ln 2, so
    ``jsd_norm = JSD/ln2 ∈ [0,1]`` gives one scale-free alert threshold
    that works for every column at every corpus size.

    Returns ONE row ``(jsd, jsd_norm, n_categories, n_new_categories,
    n_gone_categories)``; NULL jsd when either side is empty.

    Exactness (the entropy contract shared with :func:`psi_drift`):
    each category's term is a fixed double chain on exact integer-count
    rationals, rounded to 12 dp, summed in DECIMAL(20,12) — partition
    order can never flip the hash; ln 2 enters as a fixed literal, not
    a per-engine evaluation. Runs on #categories rows (pre-aggregated
    inputs), O(scan) at any corpus size.
    """
    cur = current_hist.select("category", F.col("n").alias("n_cur"))
    base = baseline_hist.select("category", F.col("n").alias("n_base"))
    joined = cur.join(base, on="category", how="full_outer").fillna(
        0, subset=["n_cur", "n_base"]
    )
    w = Window.partitionBy()
    sh = joined.select(
        "n_cur",
        "n_base",
        F.sum("n_cur").over(w).alias("_tc"),
        F.sum("n_base").over(w).alias("_tb"),
    )
    # greatest(·,1): an empty side would otherwise divide by zero (ANSI
    # throws even inside an untaken when-branch); with it, an empty side
    # gives all-zero shares and the ok-guard NULLs the verdict anyway
    p = F.col("n_cur").cast("double") / F.greatest(F.col("_tc"), F.lit(1)).cast("double")
    q = F.col("n_base").cast("double") / F.greatest(F.col("_tb"), F.lit(1)).cast("double")
    term_p = F.when(F.col("n_cur") > 0, p * F.log(F.lit(2.0) * p / (p + q))).otherwise(F.lit(0.0))
    term_q = F.when(F.col("n_base") > 0, q * F.log(F.lit(2.0) * q / (p + q))).otherwise(F.lit(0.0))
    term = F.round(term_p + term_q, 12).cast("decimal(20,12)")
    ok = (F.max("_tc") > 0) & (F.max("_tb") > 0)
    jsd_raw = F.sum(term).cast("double") / F.lit(2.0)
    return sh.agg(
        F.when(ok, F.round(jsd_raw, round_to)).alias("jsd"),
        F.when(ok, F.round(jsd_raw / F.lit(_LN2), round_to)).alias("jsd_norm"),
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
        F.sum(F.when(F.col("n_base") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_new_categories"),
        F.sum(F.when(F.col("n_cur") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_gone_categories"),
    )


def _rbo_weights_micro(p_milli: int, k: int) -> list[int]:
    """w_d = (1−p)p^(d−1) floor-quantized to micros, d = 1..k — computed
    ONCE in Python and consumed by both engines."""
    # (1 − p) computed as integer millis FIRST: 1.0 − 0.9 in doubles is
    # 0.09999999999999998 and floors a clean 100000 down to 99999
    p = p_milli / 1000.0
    return [
        int(math.floor((1000 - p_milli) * (p ** (d - 1)) * 1000.0))
        for d in range(1, k + 1)
    ]


def ranking_overlap_rbo(
    list_a: DataFrame,
    list_b: DataFrame,
    item_col: str = "item",
    rank_col: str = "rank",
    k: int = 20,
    p_milli: int = 900,
) -> DataFrame:
    """Rank-biased overlap between two top-``k`` rankings (Webber,
    Moffat & Zobel, TOIS 2010) — the RANKING member of the drift family
    (sets drift by Jaccard, distributions by KS/JSD, rankings by RBO):
    "did today's heavy-hitters/top-terms/top-k panel actually change"
    needs depth-weighted agreement, because a swap at rank 19 is noise
    and a swap at rank 1 is the finding — set overlap can't tell them
    apart. ONE row ``(k, n_a, n_b, n_common, rbo_micro)`` with the
    truncated-plus-extrapolated estimate

        RBO = Σ_{d=1..k} (1−p)p^{d−1}·A_d + p^k·A_k,   A_d = |∩_d|/d

    at persistence ``p_milli``/1000 (0.9 ⇒ the top ~10 ranks carry
    ~86% of the weight). Duplicate items within a list are the
    caller's bug (ranks must be a permutation of items); items ranked
    beyond ``k`` are ignored.

    Mechanics: a common item enters the depth-``d`` intersection at
    d = max(rank_a, rank_b), so |∩_d| is one cumulative sum over the
    k-bounded depth histogram — no per-depth re-join. Weights are
    Python-precomputed integer micros; each depth term is the exact
    integer ``w_d·|∩_d| div d`` and the score their BIGINT sum —
    engine-identical.

    Scale shape: the inputs are top-k lists (already bounded); one
    item join + a k-row window. Nothing here touches a corpus.
    """
    if not 1 <= p_milli < 1000:
        raise ValueError(f"ranking_overlap_rbo: p_milli={p_milli}")
    if k < 1:
        raise ValueError(f"ranking_overlap_rbo: k={k}")
    a = list_a.select(
        F.col(item_col).alias("_it"), F.col(rank_col).cast("long").alias("_ra")
    ).where(F.col(rank_col) <= k)
    b = list_b.select(
        F.col(item_col).alias("_it"), F.col(rank_col).cast("long").alias("_rb")
    ).where(F.col(rank_col) <= k)
    common = a.join(b, "_it").select(
        F.greatest(F.col("_ra"), F.col("_rb")).alias("_d")
    )
    hist = common.groupBy("_d").agg(F.count(F.lit(1)).alias("_c"))
    # dense depth axis 1..k so zero-entry depths still carry weight
    spark = list_a.sparkSession
    depths = spark.range(1, k + 1).select(F.col("id").alias("_d"))
    w = _rbo_weights_micro(p_milli, k)
    wmap = F.map_from_arrays(
        F.array(*[F.lit(d) for d in range(1, k + 1)]),
        F.array(*[F.lit(x) for x in w]),
    )
    from pyspark.sql import Window

    cum = Window.orderBy("_d").rowsBetween(Window.unboundedPreceding, 0)
    j = (
        depths.join(hist, "_d", "left")
        .withColumn("_inter", F.sum(F.coalesce(F.col("_c"), F.lit(0))).over(cum))
        .withColumn("_w", wmap[F.col("_d")])
    )
    pk_micro = int(math.floor((p_milli / 1000.0) ** k * 1_000_000))
    terms = j.select(
        F.expr("_w * _inter div _d").alias("_t"),
        F.when(
            F.col("_d") == k, F.expr(f"{pk_micro} * _inter div _d")
        ).otherwise(F.lit(0)).alias("_ext"),
        F.when(F.col("_d") == k, F.col("_inter")).otherwise(F.lit(0)).alias(
            "_nc"
        ),
    )
    agg = terms.agg(
        F.sum("_t").cast("bigint").alias("_sum"),
        F.sum("_ext").cast("bigint").alias("_esum"),
        F.max("_nc").cast("bigint").alias("n_common"),
    )
    na = a.agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
    nb = b.agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
    return (
        agg.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            F.lit(k).cast("int").alias("k"),
            "n_a",
            "n_b",
            "n_common",
            (F.col("_sum") + F.col("_esum")).cast("bigint").alias("rbo_micro"),
        )
    )

"""Per-column statistics in ONE pass over the table.

Design for 100 TB: a single ``df.agg(...)`` with 5 expressions per profiled
column — Catalyst executes it as one partial+final hash aggregate (map-side
combine, one shuffle of ONE row per partition). The wide 1-row result is
unpivoted driver-side into the long ``(column, ...)`` shape; no second scan.

Distinct counts use ``approx_count_distinct`` (HyperLogLog++ — mergeable,
constant memory per partition) by default; ``exact=True`` switches to
``count_distinct`` for oracle comparisons at small SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# Zelen & Severo (Abramowitz & Stegun 26.2.17) normal-CDF polynomial
# constants — fixed double literals so BOTH engines evaluate the exact
# same IEEE chain (the repo's fixed-chain contract; |error| < 7.5e-8,
# far inside the 6dp rounding).
_NORM_T = 0.2316419
_NORM_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_INV_SQRT_2PI = 0.3989422804014327


def _p_two_sided(z):
    """Two-sided normal p-value from a z column via the A&S 26.2.17
    polynomial — exp + multiply/add only, so the double chain is
    bit-identical across engines. Clamped to 1 (z=0 overshoots by 9e-10)."""
    az = F.abs(z)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_NORM_T) * az)
    b1, b2, b3, b4, b5 = (F.lit(c) for c in _NORM_B)
    poly = t * (b1 + t * (b2 + t * (b3 + t * (b4 + t * b5))))
    pdf = F.exp(-(az * az) / F.lit(2.0)) * F.lit(_INV_SQRT_2PI)
    return F.least(F.lit(1.0), F.lit(2.0) * pdf * poly)


def _p_two_sided_sql(z: str) -> str:
    """The DuckDB rendering of :func:`_p_two_sided` — same literals,
    same nesting, same operator order."""
    b1, b2, b3, b4, b5 = _NORM_B
    az = f"abs({z})"
    t = f"(1.0 / (1.0 + {_NORM_T} * {az}))"
    poly = f"({t} * ({b1} + {t} * ({b2} + {t} * ({b3} + {t} * ({b4} + {t} * {b5})))))"
    pdf = f"(exp(-({az} * {az}) / 2.0) * {_INV_SQRT_2PI})"
    return f"least(1.0, 2.0 * {pdf} * {poly})"


def column_stats(df: DataFrame, columns: list[str] | None = None, round_to: int = 6) -> DataFrame:
    """null-rate, min, max, mean length per column — one aggregation pass.

    Returns a long DataFrame
    ``(column, n_rows, n_null, null_rate, min_value, max_value, avg_length)``
    with min/max rendered as strings so heterogeneous column types stack.
    """
    columns = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in columns:
        col = F.col(c)
        aggs += [
            F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"),
            F.min(col).cast("string").alias(f"{c}__min"),
            F.max(col).cast("string").alias(f"{c}__max"),
            F.avg(F.length(col.cast("string"))).alias(f"{c}__avglen"),
        ]
    wide = df.agg(*aggs)

    # Unpivot the single wide row into long form with a stack expression —
    # still zero extra scans (operates on the 1-row aggregate).
    n = F.col("_n")
    stacked = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        n.alias("n_rows"),
                        F.col(f"{c}__nulls").alias("n_null"),
                        F.round(F.col(f"{c}__nulls") / n, round_to).alias("null_rate"),
                        F.col(f"{c}__min").alias("min_value"),
                        F.col(f"{c}__max").alias("max_value"),
                        F.round(F.col(f"{c}__avglen"), round_to).alias("avg_length"),
                    )
                    for c in columns
                ]
            )
        ).alias("s")
    ).select("s.*")
    return stacked


def distinct_counts(df: DataFrame, columns: list[str] | None = None, exact: bool = False,
                    rsd: float = 0.01) -> DataFrame:
    """Distinct count per column: HLL++ sketch by default (mergeable,
    O(1) memory — the 100 TB path), exact for small-SF oracle checks.

    Returns ``(column, n_distinct)``.
    """
    columns = columns or df.columns
    if exact:
        aggs = [F.count_distinct(F.col(c)).alias(c) for c in columns]
    else:
        aggs = [F.approx_count_distinct(F.col(c), rsd).alias(c) for c in columns]
    wide = df.agg(*aggs)
    return wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("column"), F.col(c).alias("n_distinct"))
                    for c in columns
                ]
            )
        ).alias("s")
    ).select("s.*")


def length_histogram(df: DataFrame, column: str, bucket_width: int = 100) -> DataFrame:
    """Histogram of string lengths: ``(bucket, bucket_lo, n)`` where
    ``bucket = floor(length/width)``. One groupBy — partial+final agg;
    cardinality is tiny (#buckets), so the shuffle is negligible."""
    bucket = F.floor(F.length(F.col(column)) / F.lit(bucket_width))
    return (
        df.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("bucket_lo", F.col("bucket") * F.lit(bucket_width))
        .select("bucket", "bucket_lo", "n")
    )


def heavy_hitters(df: DataFrame, column: str, k: int = 10) -> DataFrame:
    """Top-k most frequent values of a column with their share of rows:
    ``(value, n, share)`` — the frequent-items data-quality check (a value
    suddenly dominating a column is a classic upstream-pipeline bug).
    Exact: one partial+final count aggregate, then top-k on #distinct rows
    (never a global sort of the data); deterministic ties by value. The
    global total is a window sum over the GROUPED rows (tiny), not a
    separate count() action — ONE scan total, same trick as the
    heavy_hitters_source driver query. NULLs are counted as a value
    (reported as NULL) — a null takeover is exactly the failure this
    check exists to catch."""
    from pyspark.sql import Window

    counts = df.groupBy(F.col(column).alias("value")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = F.sum("n").over(Window.partitionBy())
    return (
        counts.withColumn("share", F.round(F.col("n") / total, 6))
        .orderBy(F.col("n").desc(), F.col("value"))
        .limit(k)
    )


def approx_heavy_hitters(
    df: DataFrame, column: str, min_share: float = 0.01
) -> DataFrame:
    """Sketched variant for unbounded-cardinality columns:
    ``freqItems``-style single-pass candidates (Karp/Misra-Gries family,
    Spark's built-in stat machinery) verified with ONE exact count pass
    over the small candidate set — two scans total, no full groupBy of a
    high-cardinality key. Returns the same shape as :func:`heavy_hitters`
    filtered to ``share >= min_share``."""
    [row] = df.stat.freqItems([column], min_share).collect()
    candidates = [v for v in row[0] if v is not None]
    # NULL never survives freqItems/isin, but a null takeover is exactly
    # the dominant-value failure this check exists for (round-2 review
    # finding): count NULLs in the same verify pass and report them as a
    # NULL-valued row like heavy_hitters does
    total = df.count()
    pred = F.col(column).isin(candidates) if candidates else F.lit(False)
    cand = df.where(pred | F.col(column).isNull())
    if total == 0:
        schema = df.select(F.col(column).alias("value")).schema
        return df.sparkSession.createDataFrame(
            [], f"value {schema[0].dataType.simpleString()}, n long, share double"
        )
    # filter on the EXACT ratio (rounding first drifted from the oracle's
    # HAVING at the threshold boundary); value keeps the column's native
    # type so exact/approx outputs union cleanly — both round-2 review
    # findings
    return (
        cand.groupBy(F.col(column).alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where((F.col("n") / F.lit(total)) >= min_share)
        .withColumn("share", F.round(F.col("n") / F.lit(total), 6))
        .orderBy(F.col("n").desc(), F.col("value"))
    )


def robust_outliers(
    df: DataFrame,
    column: str,
    id_col: str,
    group_cols: tuple[str, ...] = (),
    k_tenths: int = 35,
) -> DataFrame:
    """Hampel-filter outliers: rows where |value - median| exceeds
    (k_tenths/10) x MAD within the group — the robust alternative to
    mean/stddev z-scores (one fat-finger value corrupts a mean; it
    cannot move a median). Returns the outlier rows
    ``(id, *groups, value, med, mad, abs_dev)``.

    Exactness contract (what makes the oracle hash-match): median and
    MAD are LOWER medians selected by rank — row_number over
    (value, id) picks the element at rank (n+1) div 2 — never the
    interpolated (a+b)/2 midpoint, so both statistics are actual data
    elements and every downstream comparison (abs(v - med) * 10 >
    k_tenths * mad) is the same IEEE double operation in both engines.
    Interpolated medians differ in the last ulp across engines and flip
    boundary rows.

    Scale shape: two rank selections (window per group — group count is
    small by contract: event types, languages; a high-cardinality group
    column wants the sketched quantile_drift path instead) + two
    broadcast joins of the tiny per-group statistic tables. A zero MAD
    (over half the group identical) flags every deviating row — the
    documented Hampel degenerate case.
    """
    from pyspark.sql import Window

    g = list(group_cols)
    v = F.col(column).cast("double")
    base = df.where(v.isNotNull()).select(
        F.col(id_col), *[F.col(c) for c in g], v.alias("_v")
    )

    def _lower_median(frame: DataFrame, val: str, out: str) -> DataFrame:
        w = Window.partitionBy(*g).orderBy(F.col(val).asc(), F.col(id_col).asc())
        wc = Window.partitionBy(*g)
        return (
            frame.withColumn("_rn", F.row_number().over(w))
            .withColumn("_n", F.count(F.lit(1)).over(wc))
            .where(F.col("_rn") == F.expr("(_n + 1) div 2"))
            .select(*[F.col(c) for c in g], F.col(val).alias(out))
        )

    meds = _lower_median(base, "_v", "med")
    devs = (
        base.join(F.broadcast(meds), g)
        if g
        else base.crossJoin(F.broadcast(meds))
    ).withColumn("abs_dev", F.abs(F.col("_v") - F.col("med")))
    mads = _lower_median(
        devs.select(id_col, *g, F.col("abs_dev").alias("_d")), "_d", "mad"
    )
    out = devs.join(F.broadcast(mads), g) if g else devs.crossJoin(
        F.broadcast(mads)
    )
    return out.where(
        F.col("abs_dev") * 10 > F.lit(float(k_tenths)) * F.col("mad")
    ).select(
        id_col, *g, F.col("_v").alias("value"), "med", "mad", "abs_dev"
    )


def pearson_correlation(
    df: DataFrame, x: str, y: str, quantum: int = 1_000_000, round_to: int = 6
) -> DataFrame:
    """Exact-and-reproducible Pearson correlation between two numeric
    columns (the Deequ `correlation` analyzer): one row
    ``(n, corr, cov)``. Rows where either side is NULL are excluded
    (pairwise-complete, matching SQL ``corr``).

    Exactness contract: inputs are quantized to integer ``quantum``-ths
    (``floor(v*1e6)``) and ALL five moment sums (Sx, Sy, Sxx, Syy, Sxy)
    run in DECIMAL(38,0) — order-independent integer arithmetic, so the
    aggregates are bit-identical at any partitioning (a float sum of
    squares changes with partition order and flips the last ulp of r).
    The final ``r = (n*Sxy - Sx*Sy) / sqrt((n*Sxx-Sx^2)(n*Syy-Sy^2))``
    is then a fixed chain of double ops on identical inputs — IEEE sqrt
    is correctly rounded (unlike ln/exp), so both engines produce the
    same double, rounded to ``round_to``. Headroom: (1e6*|v|)^2 per row
    summed — DECIMAL(38,0) holds |v| <= 1e4 out to 1e12 rows.

    Scale: ONE partial+final aggregate, no shuffle wider than 1 row.
    Zero-variance columns yield NULL corr (undefined), never a div/0.
    """
    xm = F.floor(F.col(x) * F.lit(quantum)).cast("decimal(38,0)")
    ym = F.floor(F.col(y) * F.lit(quantum)).cast("decimal(38,0)")
    base = df.where(F.col(x).isNotNull() & F.col(y).isNotNull()).select(
        xm.alias("_x"), ym.alias("_y")
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum(F.expr("_x * _x")).alias("sxx"),
        F.sum(F.expr("_y * _y")).alias("syy"),
        F.sum(F.expr("_x * _y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    num = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    q2 = F.lit(float(quantum) * float(quantum))
    return agg.select(
        "n",
        F.round(
            F.when((vx > 0) & (vy > 0), num / F.sqrt(vx * vy)), round_to
        ).alias("corr"),
        F.round(
            F.when(n > 1, (num / n / (n - F.lit(1.0))) / q2), round_to
        ).alias("cov"),
    )


def categorical_entropy(
    df: DataFrame, column: str, round_to: int = 6
) -> DataFrame:
    """Shannon entropy of a categorical column in nats (the Deequ
    `entropy` analyzer): one row ``(entropy, n_categories, n_rows)``.
    A column collapsing toward one value (entropy -> 0) or exploding in
    cardinality is the drift this surfaces. NULLs count as a category —
    a null takeover is exactly the collapse being watched for.

    Exactness: p = n/T is an exact rational in double (both engines
    compute the identical quotient); each term p*ln(p) is rounded to
    12 dp and summed in DECIMAL(20,12) — the only cross-engine risk is
    the last ulp of ln on identical inputs (same libm-double contract the
    Gumbel/DSIR oracles rely on), and the 12-dp rounding before the
    order-independent DECIMAL sum keeps that risk out of the hash.

    Scale: one partial+final count aggregate; the entropy fold runs on
    #categories rows.
    """
    from pyspark.sql import Window

    counts = df.groupBy(
        F.coalesce(F.col(column).cast("string"), F.lit(" null")).alias("_c")
    ).agg(F.count(F.lit(1)).alias("_n"))
    t = F.sum("_n").over(Window.partitionBy())
    terms = counts.select(
        F.col("_n"),
        F.round(
            (F.col("_n") / t) * F.log(F.col("_n") / t), 12
        ).cast("decimal(20,12)").alias("_term"),
    )
    return terms.agg(
        F.round(-F.sum("_term"), round_to).cast("double").alias("entropy"),
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
        F.sum("_n").cast("bigint").alias("n_rows"),
    )


def moments_profile(
    df: DataFrame, column: str, quantum: int = 1000, round_to: int = 6
) -> DataFrame:
    """Higher-moment numeric profile (the Deequ mean/stddev analyzers
    plus shape): one row ``(n, mean, variance, skewness, kurtosis)``
    with sample variance, m3/m2^1.5 skewness and EXCESS kurtosis
    (m4/m2^2 − 3). A distribution silently changing shape at constant
    mean — the failure stddev alerts miss — is what the third and
    fourth moments catch.

    Same exactness contract as :func:`pearson_correlation`: values
    quantize to integer `quantum`-ths and ALL four power sums run in
    DECIMAL(38,0) (order-independent), then the moment formulas are a
    fixed double chain (sqrt only — correctly rounded). Headroom is the
    4th power TIMES the row count: sum(x^4) <= rows * (quantum*|v|)^4
    must stay under 1e38, i.e. quantum*|v| <= (1e38/rows)^(1/4) — at
    1e12 rows that is quantum*|v| <= ~5.6e6 (so quantum=1000 holds
    |v| <= ~5.6e3; LOWER quantum for wide-range columns — an overflow
    is an ANSI-mode job-killing error, not a NULL). Results are
    reported in ORIGINAL units (the quantum divides out).

    ONE partial+final aggregate; zero-variance yields NULL shape
    moments, never div/0.
    """
    xm = F.floor(F.col(column) * F.lit(quantum)).cast("decimal(38,0)")
    base = df.where(F.col(column).isNotNull()).select(xm.alias("_x"))
    agg = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_x").alias("s1"),
        F.sum(F.expr("_x * _x")).alias("s2"),
        F.sum(F.expr("_x * _x * _x")).alias("s3"),
        F.sum(F.expr("_x * _x * _x * _x")).alias("s4"),
    )
    n = F.col("n").cast("double")
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    s3, s4 = F.col("s3").cast("double"), F.col("s4").cast("double")
    q = F.lit(float(quantum))
    m1 = s1 / n
    m2 = s2 / n - m1 * m1
    m3 = s3 / n - F.lit(3.0) * m1 * (s2 / n) + F.lit(2.0) * m1 * m1 * m1
    m4 = (
        s4 / n
        - F.lit(4.0) * m1 * (s3 / n)
        + F.lit(6.0) * m1 * m1 * (s2 / n)
        - F.lit(3.0) * m1 * m1 * m1 * m1
    )
    return agg.select(
        "n",
        F.round(m1 / q, round_to).alias("mean"),
        F.round(
            F.when(n > 1, m2 * n / (n - F.lit(1.0)) / (q * q)), round_to
        ).alias("variance"),
        F.round(
            F.when(m2 > 0, m3 / (m2 * F.sqrt(m2))), round_to
        ).alias("skewness"),
        F.round(
            F.when(m2 > 0, m4 / (m2 * m2) - F.lit(3.0)), round_to
        ).alias("kurtosis"),
    )


def trimmed_mean(
    df: DataFrame,
    column: str,
    id_col: str,
    trim_pct: int = 5,
    group_cols: tuple[str, ...] = (),
    quantum: int = 1_000_000,
    round_to: int = 6,
) -> DataFrame:
    """Exact trimmed mean per group: drop the lowest and highest
    ``trim_pct`` percent of rows BY RANK and average the rest — the
    robust location metric between plain mean (one fat-finger value
    moves it) and median (throws away everything but one element).
    Returns ``(*group_cols, n, n_trimmed_each_side, trimmed_mean)``.

    Exactness: ranks come from row_number over (value, id) — the
    deterministic tie-break, so WHICH rows are trimmed is a pure
    function of the group multiset; the kept values sum through
    DECIMAL(38,0) over `quantum`-quantized values (order-independent)
    and the single final division + round is the same double op in any
    engine. k = n·trim_pct div 100 exactly.

    Scale: one window per group + one aggregate sharing the
    partitioning; like robust_outliers, the group count is small by
    contract (no group_cols = ONE global sort partition — report-grade
    only; the sketched quantile path is the corpus-scale default).
    """
    from pyspark.sql import Window

    if not 0 <= trim_pct < 50:
        raise ValueError(f"trimmed_mean: trim_pct must be in [0, 50), got {trim_pct}")
    g = list(group_cols)
    v = F.col(column).cast("double")
    base = df.where(v.isNotNull()).select(
        *[F.col(c) for c in g], F.col(id_col).alias("_id"), v.alias("_v")
    )
    w = Window.partitionBy(*g).orderBy(F.col("_v").asc(), F.col("_id").asc())
    wn = Window.partitionBy(*g)
    ranked = base.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(wn)
    ).withColumn("_k", F.expr(f"(_n * {int(trim_pct)}) div 100"))
    kept = ranked.where(
        (F.col("_rn") > F.col("_k")) & (F.col("_rn") <= F.col("_n") - F.col("_k"))
    )
    q = F.lit(float(quantum))
    return kept.groupBy(*g).agg(
        F.max("_n").cast("bigint").alias("n"),
        F.max("_k").cast("bigint").alias("n_trimmed_each_side"),
        F.round(
            F.sum(F.floor(F.col("_v") * q).cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1)).cast("double")
            / q,
            round_to,
        ).alias("trimmed_mean"),
    )


def ols_trend(
    df: DataFrame,
    x: str,
    y: str,
    group_cols: tuple[str, ...] = (),
    quantum: int = 1_000_000,
    round_to: int = 6,
) -> DataFrame:
    """Per-group least-squares trend of ``y`` on ``x`` — the "is this
    metric drifting, and how fast" analyzer (Deequ stops at correlation;
    a monitoring pipeline wants the RATE: violations/day, bytes/hour).
    Returns ``(*group_cols, n, slope, intercept, r2)`` with slope in
    original y-per-x units. Rows where either side is NULL are excluded
    (pairwise-complete). n == 1 or zero x-variance yields NULL slope —
    a vertical line has no trend — never a div/0.

    Exactness contract (same scheme as :func:`pearson_correlation`):
    both columns are quantized to integer ``quantum``-ths and all five
    moment sums run in DECIMAL(38,0) — bit-identical at any partition
    order. The finals are fixed double chains on identical inputs:
    ``slope = (n·Sxy − Sx·Sy) / (n·Sxx − Sx²)`` (quantum cancels),
    ``intercept = (Sy − slope·Sx) / n / quantum``,
    ``r2 = num² / (vx·vy)``. No sqrt/ln anywhere — division and
    multiplication are correctly rounded, so both engines agree to the
    last ulp before the ``round_to`` rounding.

    Scale: ONE partial+final aggregate on the group key; the regression
    itself costs #groups rows. Headroom: (1e6·|v|)² per row summed —
    DECIMAL(38,0) holds |v| <= 1e4 out to 1e12 rows per group.
    """
    g = list(group_cols)
    xm = F.floor(F.col(x).cast("double") * F.lit(quantum)).cast("decimal(38,0)")
    ym = F.floor(F.col(y).cast("double") * F.lit(quantum)).cast("decimal(38,0)")
    base = df.where(F.col(x).isNotNull() & F.col(y).isNotNull()).select(
        *[F.col(c) for c in g], xm.alias("_x"), ym.alias("_y")
    )
    agg = base.groupBy(*g).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum(F.expr("_x * _x")).alias("sxx"),
        F.sum(F.expr("_y * _y")).alias("syy"),
        F.sum(F.expr("_x * _y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    num = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    slope = F.when(vx > 0, num / vx)
    return agg.select(
        *g,
        "n",
        F.round(slope, round_to).alias("slope"),
        F.round(
            F.when(vx > 0, (sy - (num / vx) * sx) / n / F.lit(float(quantum))),
            round_to,
        ).alias("intercept"),
        F.round(
            F.when((vx > 0) & (vy > 0), num * num / (vx * vy)), round_to
        ).alias("r2"),
    )


def mutual_information(
    df: DataFrame, x: str, y: str, round_to: int = 6
) -> DataFrame:
    """Mutual information between two categorical columns in nats: one
    row ``(mi, n_rows, n_x, n_y)`` — the dependence analyzer chi-squared
    drift pairs with (chi² asks "did the joint change"; MI asks "how
    much does knowing x tell you about y" — a lang column that fully
    determines source, or a leaking feature, shows up as MI ≈ H(x)).
    NULL is a category on both sides, like :func:`categorical_entropy`.

    Exactness (the entropy contract): each term
    ``(n_xy/T)·ln(n_xy·T/(n_x·n_y))`` has an exact-rational argument
    computed from integer counts in a fixed double chain, is rounded to
    12 dp, and sums in DECIMAL(20,12) — order-independent; the only
    cross-engine risk is the last ulp of ln on identical doubles, kept
    out of the hash by the pre-sum rounding. MI of independent columns
    is ~0 (can dip epsilon-negative only through the 12-dp rounding,
    never through float reordering).

    Scale: one (x, y) groupBy (partial-aggregatable), two window sums
    over the #categories-sized table sharing its partitioning — the
    corpus is scanned once.
    """
    from pyspark.sql import Window

    xc = F.coalesce(F.col(x).cast("string"), F.lit(" null")).alias("_x")
    yc = F.coalesce(F.col(y).cast("string"), F.lit(" null")).alias("_y")
    joint = df.select(xc, yc).groupBy("_x", "_y").agg(
        F.count(F.lit(1)).alias("_nxy")
    )
    wx = Window.partitionBy("_x")
    wy = Window.partitionBy("_y")
    wall = Window.partitionBy()
    marg = (
        joint.withColumn("_nx", F.sum("_nxy").over(wx))
        .withColumn("_ny", F.sum("_nxy").over(wy))
        .withColumn("_t", F.sum("_nxy").over(wall))
    )
    term = (F.col("_nxy") / F.col("_t")) * F.log(
        F.col("_nxy") * F.col("_t") / (F.col("_nx") * F.col("_ny"))
    )
    terms = marg.select(
        "_nxy",
        "_x",
        "_y",
        F.round(term, 12).cast("decimal(20,12)").alias("_term"),
    )
    return terms.agg(
        F.round(F.sum("_term"), round_to).cast("double").alias("mi"),
        F.sum("_nxy").cast("bigint").alias("n_rows"),
        F.count_distinct("_x").cast("bigint").alias("n_x"),
        F.count_distinct("_y").cast("bigint").alias("n_y"),
    )


def concentration(
    df: DataFrame, column: str, round_to: int = 6
) -> DataFrame:
    """Herfindahl–Hirschman concentration of a categorical column: one
    row ``(hhi, top_share, n_categories, n_rows)`` — the crawl-diversity
    gate (HHI → 1 means one domain/source dominates the corpus; 1/HHI is
    the "effective number of categories"). NULL is a category.

    Exactness: ``hhi = Σ nᵢ² / T²`` — the numerator sums squared integer
    counts in DECIMAL(38,0) (order-independent, exact), then ONE double
    division; ``top_share = max(nᵢ)/T`` likewise. No per-term float sum
    anywhere. Headroom: T <= 1e12 rows keeps nᵢ² <= 1e24 per term.

    Scale: one partial-aggregatable count + a #categories-row fold.
    """
    counts = df.groupBy(
        F.coalesce(F.col(column).cast("string"), F.lit(" null")).alias("_c")
    ).agg(F.count(F.lit(1)).alias("_n"))
    agg = counts.agg(
        F.sum(F.col("_n").cast("decimal(38,0)") * F.col("_n").cast("decimal(38,0)")).alias("_ss"),
        F.sum("_n").cast("decimal(38,0)").alias("_t"),
        F.max("_n").alias("_mx"),
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
    )
    return agg.select(
        F.round(
            F.col("_ss").cast("double")
            / (F.col("_t").cast("double") * F.col("_t").cast("double")),
            round_to,
        ).alias("hhi"),
        F.round(F.col("_mx").cast("double") / F.col("_t").cast("double"), round_to).alias(
            "top_share"
        ),
        "n_categories",
        F.col("_t").cast("bigint").alias("n_rows"),
    )


def theil_sen_trend(
    df: DataFrame,
    x: str,
    y: str,
    id_col: str,
    group_cols: tuple[str, ...] = (),
    quantum: int = 1_000_000,
    round_to: int = 6,
) -> DataFrame:
    """Per-group Theil–Sen trend (Theil 1950 / Sen 1968): slope =
    MEDIAN of all pairwise slopes (y_j−y_i)/(x_j−x_i), intercept =
    median of y_i − slope·x_i — the robust companion to
    :func:`ols_trend` with a 29.3% breakdown point (one fat-finger
    bucket drags an OLS slope arbitrarily; it cannot move the pair
    median). Returns ``(*group_cols, n, n_pairs, slope, intercept)``;
    groups with no x-distinct pair yield no row.

    Exactness contract (the :func:`robust_outliers` scheme): values
    quantize to integer ``quantum``-ths, each pairwise slope is ONE
    double division of exact integers (quantum cancels), and both
    medians are LOWER medians selected by rank over a deterministic
    total order ((value, id, id) for slopes; (value, id) for
    intercepts) — actual elements, never interpolated midpoints, so
    both engines agree to the last ulp before rounding.

    Scale shape: the pairwise self-join is O(n²) PER GROUP — by the
    same bounded-series contract as Hampel (rollup buckets:
    days per key, not corpus rows); the join key is the group, so no
    global product ever forms. Equal-x pairs are excluded (vertical
    slope undefined — the standard convention).
    """
    from pyspark.sql import Window

    g = list(group_cols)
    xm = F.floor(F.col(x).cast("double") * F.lit(quantum)).cast("decimal(38,0)")
    ym = F.floor(F.col(y).cast("double") * F.lit(quantum)).cast("decimal(38,0)")
    base = df.where(F.col(x).isNotNull() & F.col(y).isNotNull()).select(
        *[F.col(c) for c in g],
        F.col(id_col).alias("_id"),
        xm.alias("_x"),
        ym.alias("_y"),
    )
    a = base.select(
        *g, F.col("_id").alias("_ia"), F.col("_x").alias("_xa"), F.col("_y").alias("_ya")
    )
    b = base.select(
        *g, F.col("_id").alias("_ib"), F.col("_x").alias("_xb"), F.col("_y").alias("_yb")
    )
    pairs = (a.join(b, g) if g else a.crossJoin(b)).where(F.col("_xa") < F.col("_xb"))
    sl = pairs.select(
        *g,
        "_ia",
        "_ib",
        (
            (F.col("_yb") - F.col("_ya")).cast("double")
            / (F.col("_xb") - F.col("_xa")).cast("double")
        ).alias("_s"),
    )
    ws = Window.partitionBy(*g).orderBy(
        F.col("_s").asc(), F.col("_ia").asc(), F.col("_ib").asc()
    )
    wc = Window.partitionBy(*g)
    slopes = (
        sl.withColumn("_rn", F.row_number().over(ws))
        .withColumn("_np", F.count(F.lit(1)).over(wc))
        .where(F.col("_rn") == F.expr("(_np + 1) div 2"))
        .select(*g, F.col("_s").alias("_slope"), F.col("_np").alias("n_pairs"))
    )
    resid = (
        base.join(F.broadcast(slopes), g)
        if g
        else base.crossJoin(F.broadcast(slopes))
    ).select(
        *g,
        "_id",
        "_slope",
        "n_pairs",
        (
            (F.col("_y").cast("double") - F.col("_slope") * F.col("_x").cast("double"))
            / F.lit(float(quantum))
        ).alias("_r"),
    )
    wr = Window.partitionBy(*g).orderBy(F.col("_r").asc(), F.col("_id").asc())
    out = (
        resid.withColumn("_rn", F.row_number().over(wr))
        .withColumn("_n", F.count(F.lit(1)).over(wc))
        .where(F.col("_rn") == F.expr("(_n + 1) div 2"))
    )
    return out.select(
        *g,
        F.col("_n").cast("bigint").alias("n"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.round("_slope", round_to).alias("slope"),
        F.round("_r", round_to).alias("intercept"),
    )


def gini_coefficient(
    df: DataFrame,
    value_col: str,
    id_col: str,
    group_cols: tuple[str, ...] = (),
    quantum: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Gini concentration coefficient per group (the Lorenz-curve
    inequality measure; the crawl-diversity companion to
    :func:`concentration`'s HHI — HHI reacts to the few biggest
    domains, Gini reads the WHOLE distribution's skew). Returns
    ``(*group_cols, n, total_q, gini)`` over non-negative values; NULL
    and negative rows are excluded (Gini is defined on non-negative
    quantities).

    Exactness: the rank form G = Σ_i (2i − n − 1)·x_(i) / (n·Σx) over
    values sorted ascending — ranks come from row_number over the
    deterministic (value, id) total order, the numerator sums
    (2i − n − 1)·x in DECIMAL(38,0) (rank·value reaches n·Σx), and the
    result is ONE double division, rounded. Ties are handled exactly:
    the rank-form numerator is invariant under permutations WITHIN a
    tie run only in total — which is why the (value, id) order must be
    pinned on both engines (it is; same device as the equi-height
    histogram).

    Scale shape: one window sort per group (the bounded-group contract
    of the analyzer family: domains per language, days per key) + one
    partial-aggregatable sum. For corpus-wide billion-key Gini, feed
    the grouped COUNTS table (bounded by key cardinality), not rows.
    """
    g = list(group_cols)
    from pyspark.sql import Window

    xq = F.floor(F.col(value_col).cast("double") * F.lit(quantum)).cast(
        "decimal(38,0)"
    )
    base = df.where(F.col(value_col).isNotNull()).select(
        *[F.col(c) for c in g], F.col(id_col).alias("_id"), xq.alias("_x")
    ).where(F.col("_x") >= 0)
    w = Window.partitionBy(*g).orderBy(F.col("_x").asc(), F.col("_id").asc())
    wc = Window.partitionBy(*g)
    ranked = (
        base.withColumn("_i", F.row_number().over(w).cast("decimal(38,0)"))
        .withColumn("_n", F.count(F.lit(1)).over(wc).cast("decimal(38,0)"))
    )
    agg = ranked.groupBy(*g).agg(
        F.max("_n").alias("_nn"),
        F.sum("_x").alias("_sx"),
        F.sum(
            (F.lit(2).cast("decimal(38,0)") * F.col("_i") - F.col("_n") - F.lit(1))
            * F.col("_x")
        ).alias("_num"),
    )
    return agg.select(
        *g,
        F.col("_nn").cast("bigint").alias("n"),
        F.col("_sx").cast("bigint").alias("total_q"),
        F.round(
            F.when(
                F.col("_sx") > 0,
                F.col("_num").cast("double")
                / (F.col("_nn").cast("double") * F.col("_sx").cast("double")),
            ),
            round_to,
        ).alias("gini"),
    )


def jackknife_ratio(
    df: DataFrame,
    num_col: str,
    den_col: str,
    n_buckets: int = 20,
    id_col: str | None = None,
    group_cols: tuple[str, ...] = (),
    salt: str = "jk",
    round_to: int = 6,
) -> DataFrame:
    """Delete-one-bucket jackknife for a RATIO metric (Tukey 1958;
    the delete-group form online A/B systems use): the ratio
    Σnum/Σden (CTR, revenue-per-event, violation rate) gets a
    variance estimate no single-row formula gives — ratios are biased
    and correlated across rows. Rows land in ``n_buckets`` deterministic
    md5 buckets; θ_i = the ratio with bucket i deleted; returns one row
    per group: ``(…, n_rows, ratio, se, ci_lo, ci_hi)`` with
    se = sqrt((B−1)/B · Σ(θ_i − θ̄)²) and a ±1.96·se interval.

    Exactness: bucket sums are exact DECIMAL(38,0) integer micros, each
    θ_i is ONE double division of exact integers, deviations are
    12dp-rounded then DECIMAL-summed (the categorical_entropy device —
    partition-order-free), and the final sqrt is one correctly-rounded
    IEEE op. Deterministic bucketing: md5(salt:id) — pure function of
    the row, reproducible anywhere; pass ``id_col`` (default requires
    one) so retries bucket identically.

    Scale shape: ONE partial-aggregatable groupBy to (group, bucket) —
    n_buckets·groups result rows — then a tiny window-free re-agg.
    """
    if id_col is None:
        raise ValueError("jackknife_ratio: id_col is required (deterministic buckets)")
    if n_buckets < 2:
        raise ValueError(f"jackknife_ratio: n_buckets={n_buckets}")
    g = list(group_cols)
    dec = "decimal(38,0)"
    from xmlschemavalidator_spark.textops import portable_hash64

    bucket = F.pmod(
        portable_hash64(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))),
        F.lit(n_buckets),
    )
    nm = F.floor(F.col(num_col).cast("double") * F.lit(1_000_000)).cast(dec)
    dn = F.floor(F.col(den_col).cast("double") * F.lit(1_000_000)).cast(dec)
    per_b = (
        df.where(F.col(num_col).isNotNull() & F.col(den_col).isNotNull())
        .groupBy(*g, bucket.alias("_b"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_n"),
            F.sum(nm).alias("_sn"),
            F.sum(dn).alias("_sd"),
        )
    )
    tot = per_b.groupBy(*g).agg(
        F.sum("_n").alias("n_rows"),
        F.sum("_sn").alias("_tn"),
        F.sum("_sd").alias("_td"),
        F.count(F.lit(1)).cast("bigint").alias("_nb"),
    )
    j = per_b.join(tot, g) if g else per_b.crossJoin(tot)
    theta_i = (F.col("_tn") - F.col("_sn")).cast("double") / (
        F.col("_td") - F.col("_sd")
    ).cast("double")
    per = j.select(
        *g,
        "n_rows",
        "_tn",
        "_td",
        "_nb",
        F.round(theta_i, 12).cast("decimal(24,12)").alias("_th"),
    )
    agg2 = per.groupBy(*g).agg(
        F.max("n_rows").alias("n_rows"),
        F.max("_tn").alias("_tn"),
        F.max("_td").alias("_td"),
        F.max("_nb").alias("_nb"),
        F.sum("_th").alias("_sth"),
        F.sum(F.round(F.col("_th") * F.col("_th"), 12).cast("decimal(28,12)")).alias(
            "_sth2"
        ),
    )
    b = F.col("_nb").cast("double")
    mean_th = F.col("_sth").cast("double") / b
    var = (
        (b - F.lit(1.0))
        / b
        * (F.col("_sth2").cast("double") - b * mean_th * mean_th)
    )
    ratio = F.col("_tn").cast("double") / F.col("_td").cast("double")
    se = F.sqrt(F.greatest(var, F.lit(0.0)))
    return agg2.select(
        *g,
        "n_rows",
        F.round(ratio, round_to).alias("ratio"),
        F.round(se, round_to).alias("se"),
        F.round(ratio - F.lit(1.96) * se, round_to).alias("ci_lo"),
        F.round(ratio + F.lit(1.96) * se, round_to).alias("ci_hi"),
    )


def eb_shrunken_rates(
    df: DataFrame,
    group_cols: tuple[str, ...],
    success_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-group success
    rates (method-of-moments prior — the standard fix for ranking
    groups by a rate when group sizes vary by orders of magnitude: a
    2/2 domain must not outrank a 9500/10000 one). Per group:
    ``(…, n, x, raw_rate, shrunk_rate)`` with shrunk = (α+x)/(α+β+n),
    the posterior mean under the Beta(α, β) prior fitted to the
    observed rate distribution: α+β = m(1−m)/v − 1, α = m·(α+β), from
    the mean m and variance v of the per-group raw rates.

    Exactness: per-group counts are exact; each raw rate is ONE double
    division, 12dp-rounded then DECIMAL-summed across the BOUNDED group
    table for m and v (order-free — the jackknife device), and the
    posterior is a fixed double chain on those. Degenerate priors
    (zero/overdispersed variance → α+β <= 0, or <2 groups) fall back to
    shrunk = raw, never a NaN.

    Scale shape: one partial-aggregatable groupBy + a 1-row prior
    cross-joined back — group count bounded by contract (domains,
    languages), rows unbounded."""
    g = list(group_cols)
    if not g:
        raise ValueError("eb_shrunken_rates: need >= 1 group column")
    s = F.col(success_col).cast("double")
    per = (
        df.where(s.isNotNull())
        .groupBy(*g)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(s.cast("long")).cast("bigint").alias("x"),
        )
    )
    rate = F.col("x").cast("double") / F.col("n").cast("double")
    per = per.withColumn(
        "_r", F.round(rate, 12).cast("decimal(24,12)")
    )
    prior = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("_ng"),
        F.sum("_r").alias("_sr"),
        F.sum(F.round(F.col("_r") * F.col("_r"), 12).cast("decimal(28,12)")).alias(
            "_sr2"
        ),
    )
    j = per.crossJoin(F.broadcast(prior))
    ng = F.col("_ng").cast("double")
    m = F.col("_sr").cast("double") / ng
    v = (F.col("_sr2").cast("double") - ng * m * m) / ng
    ab = m * (F.lit(1.0) - m) / v - F.lit(1.0)
    valid = (F.col("_ng") >= 2) & (v > 0) & (ab > 0)
    alpha = m * ab
    beta = ab - alpha
    shrunk = F.when(
        valid,
        (alpha + F.col("x").cast("double"))
        / (alpha + beta + F.col("n").cast("double")),
    ).otherwise(rate)
    return j.select(
        *g,
        "n",
        "x",
        F.round(rate, round_to).alias("raw_rate"),
        F.round(shrunk, round_to).alias("shrunk_rate"),
    )


def simpsons_paradox_check(
    df: DataFrame,
    x: str,
    y: str,
    group_cols: tuple[str, ...],
    quantum: int = 1_000_000,
    round_to: int = 6,
) -> DataFrame:
    """Simpson's-paradox alarm for a trend metric: ONE row
    ``(pooled_slope, n_groups, n_groups_pos, n_groups_neg, paradox)``
    comparing the POOLED OLS slope of y on x against the per-group
    slope signs — ``paradox`` fires when the pooled sign contradicts
    the group majority (positive pooled trend while most groups trend
    down, or vice versa): the aggregation-bias failure where a
    composition shift (more docs from a slow source) masquerades as a
    metric trend. Groups with undefined slope (n<=1 or zero x-variance)
    don't vote.

    Exactness: both levels reuse :func:`ols_trend`'s quantized
    DECIMAL(38,0) moment sums; signs are taken on the 6dp-rounded
    slopes (the same values both engines report), so the verdict is
    hash-stable. One corpus aggregate per level; the vote count runs
    over the bounded group table."""
    per = ols_trend(df, x, y, group_cols, quantum=quantum, round_to=round_to)
    pooled = ols_trend(df, x, y, (), quantum=quantum, round_to=round_to).select(
        F.col("slope").alias("pooled_slope")
    )
    votes = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum((F.col("slope") > 0).cast("long")).cast("bigint").alias("n_groups_pos"),
        F.sum((F.col("slope") < 0).cast("long")).cast("bigint").alias("n_groups_neg"),
    )
    out = votes.crossJoin(pooled)
    paradox = (
        (F.col("pooled_slope") > 0) & (F.col("n_groups_neg") > F.col("n_groups_pos"))
    ) | (
        (F.col("pooled_slope") < 0) & (F.col("n_groups_pos") > F.col("n_groups_neg"))
    )
    return out.select(
        "pooled_slope",
        "n_groups",
        "n_groups_pos",
        "n_groups_neg",
        F.coalesce(paradox, F.lit(False)).alias("paradox"),
    )


def standardized_rates(
    df: DataFrame,
    group_cols: tuple[str, ...],
    stratum_col: str,
    success_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Directly standardized per-group success rates (the
    epidemiology-standard composition adjustment — and the CORRECTOR
    for the Simpson's-paradox alarm): re-weight each group's
    per-stratum rates by the GLOBAL stratum mix, so two groups with
    different compositions become comparable. Returns per group:
    ``(…, n, raw_rate, standardized_rate, covered_weight_micro)`` with
    standardized = Σ_s w_s·rate_{g,s} / Σ_s∈covered w_s — strata the
    group never saw drop out and the weight renormalizes over the
    covered mass (reported in integer micros so a thin-coverage group
    is visibly less trustworthy rather than silently extrapolated).

    Exactness: stratum weights are exact integer micro shares (BIGINT
    div of global counts); each per-stratum rate is one double division
    of exact counts; the weighted terms are 12dp-rounded then
    DECIMAL-summed (order-free), ONE final division. Two stacked
    partial-agg groupBys — bounded by groups×strata."""
    g = list(group_cols)
    if not g:
        raise ValueError("standardized_rates: need >= 1 group column")
    s = F.col(success_col).cast("double")
    cell = (
        df.where(s.isNotNull())
        .groupBy(*g, F.col(stratum_col).alias("_s"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_n"),
            F.sum(s.cast("long")).cast("bigint").alias("_x"),
        )
    )
    strata = cell.groupBy("_s").agg(F.sum("_n").cast("bigint").alias("_ns"))
    tot = strata.agg(F.sum("_ns").cast("bigint").alias("_nt"))
    w = strata.crossJoin(F.broadcast(tot)).select(
        "_s", F.expr("_ns * 1000000 div _nt").cast("bigint").alias("_w")
    )
    j = cell.join(F.broadcast(w), "_s")
    term = F.round(
        F.col("_w").cast("double")
        * (F.col("_x").cast("double") / F.col("_n").cast("double")),
        12,
    ).cast("decimal(28,12)")
    agg = j.groupBy(*g).agg(
        F.sum("_n").cast("bigint").alias("n"),
        F.sum("_x").cast("bigint").alias("_xt"),
        F.sum(term).alias("_wsum"),
        F.sum("_w").cast("bigint").alias("covered_weight_micro"),
    )
    return agg.select(
        *g,
        "n",
        F.round(F.col("_xt") / F.col("n"), round_to).alias("raw_rate"),
        F.round(
            F.when(
                F.col("covered_weight_micro") > 0,
                F.col("_wsum").cast("double")
                / F.col("covered_weight_micro").cast("double"),
            ),
            round_to,
        ).alias("standardized_rate"),
        "covered_weight_micro",
    )


def smr_rates(
    df: DataFrame,
    group_cols: tuple[str, ...],
    stratum_col: str,
    success_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Indirectly standardized ratio (SMR — the other classic
    composition adjustment, for groups too SMALL to estimate their own
    per-stratum rates, where :func:`standardized_rates` gets noisy):
    per group, ``observed / expected`` with expected = Σ_s n_{g,s} ·
    global_rate_s — "how did this group do against what the global
    per-stratum rates predict for ITS OWN mix?". Returns
    ``(…, n, observed, expected, smr)``; SMR > 1 = outperforming its
    composition.

    Exactness: expected terms n_{g,s}·x_s/n_s are one double division
    each (exact integer inputs), 12dp-rounded then DECIMAL-summed; SMR
    is ONE final division (NULL when expected is 0). Same bounded
    groups×strata shape as the direct form."""
    g = list(group_cols)
    if not g:
        raise ValueError("smr_rates: need >= 1 group column")
    s = F.col(success_col).cast("double")
    cell = (
        df.where(s.isNotNull())
        .groupBy(*g, F.col(stratum_col).alias("_s"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_n"),
            F.sum(s.cast("long")).cast("bigint").alias("_x"),
        )
    )
    glob = cell.groupBy("_s").agg(
        F.sum("_n").cast("bigint").alias("_ns"),
        F.sum("_x").cast("bigint").alias("_xs"),
    )
    j = cell.join(F.broadcast(glob), "_s")
    exp_term = F.round(
        F.col("_n").cast("double")
        * (F.col("_xs").cast("double") / F.col("_ns").cast("double")),
        12,
    ).cast("decimal(28,12)")
    agg = j.groupBy(*g).agg(
        F.sum("_n").cast("bigint").alias("n"),
        F.sum("_x").cast("bigint").alias("observed"),
        F.sum(exp_term).alias("_exp"),
    )
    return agg.select(
        *g,
        "n",
        "observed",
        F.round(F.col("_exp").cast("double"), round_to).alias("expected"),
        F.round(
            F.when(
                F.col("_exp") > 0,
                F.col("observed").cast("double") / F.col("_exp").cast("double"),
            ),
            round_to,
        ).alias("smr"),
    )


def winsorized_mean(
    df: DataFrame,
    column: str,
    id_col: str,
    winsor_pct: int = 5,
    group_cols: tuple[str, ...] = (),
    quantum: int = 1_000_000,
    round_to: int = 6,
) -> DataFrame:
    """Exact winsorized mean per group — :func:`trimmed_mean`'s sibling
    that CLAMPS the extreme ranks to the cut values instead of dropping
    them (keeps n constant, which matters when the mean feeds a
    rate-per-row metric): the lowest/highest ``winsor_pct`` percent of
    rows by rank take the value at rank k+1 / n−k respectively.
    Returns ``(*group_cols, n, n_winsorized_each_side, winsorized_mean)``.

    Exactness (the trimmed_mean contract): ranks over the (value, id)
    total order, cut values are ACTUAL elements selected by rank, the
    clamped values sum through DECIMAL(38,0) over quantized values,
    ONE final division. Same one-window-per-group shape and the same
    bounded-group contract."""
    from pyspark.sql import Window

    if not 0 <= winsor_pct < 50:
        raise ValueError(
            f"winsorized_mean: winsor_pct must be in [0, 50), got {winsor_pct}"
        )
    g = list(group_cols)
    v = F.col(column).cast("double")
    base = df.where(v.isNotNull()).select(
        *[F.col(c) for c in g], F.col(id_col).alias("_id"), v.alias("_v")
    )
    w = Window.partitionBy(*g).orderBy(F.col("_v").asc(), F.col("_id").asc())
    wn = Window.partitionBy(*g)
    q = F.floor(F.col("_v") * F.lit(quantum)).cast("decimal(38,0)")
    ranked = (
        base.withColumn("_q", q)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wn))
        .withColumn("_k", F.expr(f"(_n * {int(winsor_pct)}) div 100"))
        # the clamp values: the elements at ranks k+1 and n-k, broadcast
        # along the SAME window partitioning (no second scan)
        .withColumn(
            "_lo",
            F.max(F.when(F.col("_rn") == F.col("_k") + 1, F.col("_q"))).over(wn),
        )
        .withColumn(
            "_hi",
            F.max(
                F.when(F.col("_rn") == F.col("_n") - F.col("_k"), F.col("_q"))
            ).over(wn),
        )
    )
    clamped = F.when(F.col("_rn") <= F.col("_k"), F.col("_lo")).when(
        F.col("_rn") > F.col("_n") - F.col("_k"), F.col("_hi")
    ).otherwise(F.col("_q"))
    agg = ranked.groupBy(*g).agg(
        F.max("_n").cast("bigint").alias("n"),
        F.max("_k").cast("bigint").alias("n_winsorized_each_side"),
        F.sum(clamped).alias("_s"),
    )
    return agg.select(
        *g,
        "n",
        "n_winsorized_each_side",
        F.round(
            F.col("_s").cast("double") / (F.col("n") * F.lit(float(quantum))),
            round_to,
        ).alias("winsorized_mean"),
    )


def spearman_correlation(
    df: DataFrame,
    x: str,
    y: str,
    quantum: int = 1_000_000,
    round_to: int = 6,
) -> DataFrame:
    """Spearman rank correlation — the distribution-free companion to
    :func:`pearson_correlation` (monotone association without the
    linearity/outlier sensitivity; one fat-tail value moves Pearson
    arbitrarily, it moves a rank by one): ONE row ``(n, rho)`` =
    Pearson over AVERAGE ranks with exact tie handling.

    Exactness: both columns quantize to integer ``quantum``-ths; per
    distinct value the average rank is an exact integer HALF
    (2·avgrank = 2·cum_below + t + 1), joined back to the pairwise-
    complete rows on the quantized value (the rank tables are bounded
    by the distinct grid, never by the corpus); the five moment sums
    over the integer 2·avgrank pairs run in DECIMAL(38,0); rho is the
    Pearson final — one fixed double chain with one sqrt. Constant
    columns (zero rank variance) yield NULL rho."""
    from pyspark.sql import Window

    xq = F.floor(F.col(x).cast("double") * F.lit(quantum)).cast("bigint")
    yq = F.floor(F.col(y).cast("double") * F.lit(quantum)).cast("bigint")
    base = df.where(F.col(x).isNotNull() & F.col(y).isNotNull()).select(
        xq.alias("_x"), yq.alias("_y")
    )

    def ranks(col):
        per = base.groupBy(col).agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("_t")
        )
        below = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return per.select(
            col,
            (
                F.lit(2)
                * F.coalesce(
                    F.sum("_t").over(below), F.lit(0).cast("decimal(38,0)")
                )
                + F.col("_t")
                + F.lit(1)
            ).alias(f"{col}r"),
        )

    j = base.join(ranks("_x"), "_x").join(ranks("_y"), "_y")
    agg = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_xr").alias("sa"),
        F.sum("_yr").alias("sb"),
        F.sum(F.expr("_xr * _xr")).alias("saa"),
        F.sum(F.expr("_yr * _yr")).alias("sbb"),
        F.sum(F.expr("_xr * _yr")).alias("sab"),
    )
    n = F.col("n").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    saa, sbb, sab = (
        F.col("saa").cast("double"),
        F.col("sbb").cast("double"),
        F.col("sab").cast("double"),
    )
    num = n * sab - sa * sb
    va = n * saa - sa * sa
    vb = n * sbb - sb * sb
    return agg.select(
        "n",
        F.round(
            F.when((va > 0) & (vb > 0), num / F.sqrt(va * vb)), round_to
        ).alias("rho"),
    )


def cohens_d(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    quantum: int = 1_000_000,
    round_to: int = 6,
) -> DataFrame:
    """Cohen's d effect size between two groups — the magnitude answer
    the z/U tests don't give (at 10^9 rows everything is 'significant';
    d says whether anyone should care): ONE row ``(n_a, n_b, mean_a,
    mean_b, d)`` with the pooled-SD denominator
    √(((n_a−1)s_a² + (n_b−1)s_b²)/(n_a+n_b−2)).

    Exactness: the usual quantized DECIMAL(38,0) moment sums per group
    (one pass), then a fixed double chain — means, the two unbiased
    variances, pooled SD, one division; zero pooled variance → NULL d.
    """
    v = F.col(value_col).cast("double")
    q = F.floor(v * F.lit(quantum)).cast("decimal(38,0)")
    base = df.where(
        v.isNotNull() & F.col(group_col).isin([group_a, group_b])
    ).select((F.col(group_col) == group_a).alias("_ga"), q.alias("_q"))
    agg = base.agg(
        F.sum(F.col("_ga").cast("long")).cast("bigint").alias("n_a"),
        F.sum((~F.col("_ga")).cast("long")).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("_ga"), F.col("_q"))).alias("sa"),
        F.sum(F.when(~F.col("_ga"), F.col("_q"))).alias("sb"),
        F.sum(F.when(F.col("_ga"), F.col("_q") * F.col("_q"))).alias("saa"),
        F.sum(F.when(~F.col("_ga"), F.col("_q") * F.col("_q"))).alias("sbb"),
    )
    qd = F.lit(float(quantum))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    saa, sbb = F.col("saa").cast("double"), F.col("sbb").cast("double")
    ma, mb = sa / na / qd, sb / nb / qd
    va = (saa - sa * sa / na) / (na - F.lit(1.0)) / (qd * qd)
    vb = (sbb - sb * sb / nb) / (nb - F.lit(1.0)) / (qd * qd)
    pooled = ((na - F.lit(1.0)) * va + (nb - F.lit(1.0)) * vb) / (
        na + nb - F.lit(2.0)
    )
    ok = (F.col("n_a") > 1) & (F.col("n_b") > 1)
    return agg.select(
        "n_a",
        "n_b",
        F.round(F.when(F.col("n_a") > 0, ma), round_to).alias("mean_a"),
        F.round(F.when(F.col("n_b") > 0, mb), round_to).alias("mean_b"),
        F.round(
            F.when(ok & (pooled > 0), (ma - mb) / F.sqrt(pooled)), round_to
        ).alias("d"),
    )


def anova_f(
    df: DataFrame,
    value_col: str,
    group_col: str,
    quantum: int = 1_000_000,
    round_to: int = 6,
) -> DataFrame:
    """One-way ANOVA F — the parametric counterpart of the
    Kruskal–Wallis rank test (between-group vs within-group variance
    of the VALUES, where KW tests the ranks): ONE row ``(n, n_groups, f, df_between,
    df_within)``; compare against the F(k−1, n−k) critical value of
    your level.

    Exactness: per-group (n, Σq, Σq²) in DECIMAL(38,0) from one pass;
    SSB = Σ S_g²/n_g − S²/n and SSW = Σq² − Σ S_g²/n_g as fixed double
    chains on the exact sums; F = (SSB/(k−1)) / (SSW/(n−k)); zero
    within-variance → NULL f."""
    v = F.col(value_col).cast("double")
    q = F.floor(v * F.lit(quantum)).cast("decimal(38,0)")
    base = df.where(v.isNotNull() & F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("_g"), q.alias("_q")
    )
    per = base.groupBy("_g").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("_q").alias("_s"),
        F.sum(F.col("_q") * F.col("_q")).alias("_ss"),
    )
    agg = per.agg(
        F.sum("_n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.col("_s").cast("double") * F.col("_s").cast("double") / F.col("_n"))
        .alias("_sg2"),
        F.sum("_s").alias("_st"),
        F.sum("_ss").alias("_sst"),
    )
    n = F.col("n").cast("double")
    k = F.col("n_groups").cast("double")
    ssb = F.col("_sg2") - F.col("_st").cast("double") * F.col("_st").cast(
        "double"
    ) / n
    ssw = F.col("_sst").cast("double") - F.col("_sg2")
    ok = (F.col("n_groups") >= 2) & (n > k)
    f = F.when(ok & (ssw > 0), (ssb / (k - F.lit(1.0))) / (ssw / (n - k)))
    return agg.select(
        "n",
        "n_groups",
        F.round(f, round_to).alias("f"),
        (F.col("n_groups") - 1).cast("int").alias("df_between"),
        (F.col("n") - F.col("n_groups")).cast("bigint").alias("df_within"),
    )


def kendall_tau(
    df: DataFrame,
    x_col: str,
    y_col: str,
    x_quantum: int = 1_000_000,
    y_quantum: int = 1_000_000,
    round_to: int = 6,
) -> DataFrame:
    """Kendall's τ-b rank correlation (Kendall 1938; tie-corrected "b"
    form) — the third dependence analyzer beside Pearson (linear) and
    Spearman (monotone-by-rank): τ counts CONCORDANT vs DISCORDANT
    observation pairs, so it reads directly as a probability
    (P(concordant) − P(discordant)) and is even less outlier-excitable
    than Spearman (one wild row changes at most its own pair votes).

    ONE row: ``(n, n_cells, concordant, discordant, tau_b)``.

    Machinery: the naive form is an O(n²) pair walk — undoable at
    corpus scale. Instead observations collapse onto the quantized
    (x, y) CELL table (the Spearman distinct-grid contract) and
    every pair statistic becomes a cell-pair product: C = Σ c₁c₂ over
    cells with x₁<x₂ ∧ y₁<y₂, D likewise with y₁>y₂ — exact integers in
    DECIMAL(38,0). Ties never enter the join: the denominator's tie
    terms come from the per-x and per-y marginal tables,
    τ_b = 2(C−D) / √((n(n−1) − Σtₓ(tₓ−1)) · (n(n−1) − Σt_y(t_y−1))) —
    doubled-count forms so every intermediate stays an exact integer;
    ONE sqrt + division at the end.

    Scale contract (disclosed, the Spearman convention): the cell-pair
    join is O(cells²) — pick ``x_quantum``/``y_quantum`` so the
    quantized grids are bounded (a coarse grid computes the exact τ of
    the COARSENED values, stated honestly, rather than an approximate τ
    of the raw ones). The join broadcasts the smaller cell side
    (bounded by construction); nothing row-sized shuffles. NULL τ when
    n < 2 or either margin is all-ties.

    Reference scope note: eliassona/xmlschemavalidator has no dataset
    layer (core.clj:263-285); north-rule analyzer beside
    spearman_correlation/pearson_correlation.
    """
    base = df.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.floor(F.col(x_col).cast("double") * F.lit(x_quantum))
        .cast("bigint")
        .alias("_sx"),
        F.floor(F.col(y_col).cast("double") * F.lit(y_quantum))
        .cast("bigint")
        .alias("_sy"),
    )
    cell = base.groupBy("_sx", "_sy").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_c")
    )
    tx = cell.groupBy("_sx").agg(F.sum("_c").alias("_t"))
    ty = cell.groupBy("_sy").agg(F.sum("_c").alias("_t"))
    one = F.lit(1).cast("decimal(38,0)")
    marg = (
        cell.agg(
            F.sum("_c").alias("_n"),
            F.count(F.lit(1)).cast("bigint").alias("_ncells"),
        )
        .crossJoin(
            F.broadcast(
                tx.agg(F.sum(F.col("_t") * (F.col("_t") - one)).alias("_tx2"))
            )
        )
        .crossJoin(
            F.broadcast(
                ty.agg(F.sum(F.col("_t") * (F.col("_t") - one)).alias("_ty2"))
            )
        )
    )
    c1 = cell.select(
        F.col("_sx").alias("_x1"), F.col("_sy").alias("_y1"), F.col("_c").alias("_c1")
    )
    c2 = cell.select(
        F.col("_sx").alias("_x2"), F.col("_sy").alias("_y2"), F.col("_c").alias("_c2")
    )
    zero = F.lit(0).cast("decimal(38,0)")
    cd = (
        c1.join(c2, F.col("_x1") < F.col("_x2"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_y1") < F.col("_y2"), F.col("_c1") * F.col("_c2")
                    ).otherwise(zero)
                ),
                zero,
            ).alias("_conc"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_y1") > F.col("_y2"), F.col("_c1") * F.col("_c2")
                    ).otherwise(zero)
                ),
                zero,
            ).alias("_disc"),
        )
    )
    j = marg.crossJoin(F.broadcast(cd))
    a = F.col("_n") * (F.col("_n") - one) - F.col("_tx2")
    b = F.col("_n") * (F.col("_n") - one) - F.col("_ty2")
    ok = (F.col("_n") > 1) & (a > 0) & (b > 0)
    tau = (
        F.lit(2.0)
        * (F.col("_conc") - F.col("_disc")).cast("double")
        / F.sqrt(a.cast("double") * b.cast("double"))
    )
    return j.select(
        F.col("_n").cast("bigint").alias("n"),
        F.col("_ncells").alias("n_cells"),
        F.col("_conc").cast("bigint").alias("concordant"),
        F.col("_disc").cast("bigint").alias("discordant"),
        F.round(F.when(ok, tau), round_to).alias("tau_b"),
    )


def weighted_quantile(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    id_col: str,
    qs_pct: tuple[int, ...] = (25, 50, 75),
    group_cols: tuple[str, ...] = (),
    weight_quantum: int = 10**6,
) -> DataFrame:
    """Exact weighted quantiles per group → ``(*group_cols, q_pct,
    value, cum_weight_q, total_weight_q)`` — the weighted-median family
    for importance-weighted corpora (DSIR ratio weights, dedup-cluster
    sizes, token counts): the plain median answers "the middle doc",
    the weighted one answers "the middle TOKEN/WEIGHT unit".

    Definition: the lower weighted q-quantile is the first value (in
    the pinned (value, id) total order — the Gini/equi-height device)
    whose cumulative weight reaches ``q% of W``. Weights floor-quantize
    to ``weight_quantum`` integer units up front (disclosed; rows whose
    quantized weight is <= 0 drop), so the crossing test
    ``cum·100 >= q·W`` is pure integer comparison in DECIMAL(38,0) —
    no float accumulation order anywhere, and EXACTLY one row crosses
    per q. All requested quantiles ride ONE window pass: each row
    carries a filtered array of the q's it crosses, exploded after the
    fact (rows crossing nothing explode to nothing).

    Scale shape: one window sort per group (the analyzer family's
    bounded-group contract) + a narrow projection; for corpus-wide
    quantiles over billion-value columns feed the grouped
    (value, weight-sum) table, exactly like Gini.
    """
    if not qs_pct or any(q < 1 or q > 100 for q in qs_pct):
        raise ValueError(f"weighted_quantile: bad qs_pct={qs_pct}")
    g = list(group_cols)
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    wq = F.floor(F.col(weight_col).cast("double") * F.lit(weight_quantum)).cast(d38)
    base = (
        df.where(F.col(value_col).isNotNull() & F.col(weight_col).isNotNull())
        .select(
            *[F.col(c) for c in g],
            F.col(id_col).alias("_id"),
            F.col(value_col).alias("_v"),
            wq.alias("_w"),
        )
        .where(F.col("_w") > 0)
    )
    w = Window.partitionBy(*g).orderBy(F.col("_v").asc(), F.col("_id").asc())
    wall = Window.partitionBy(*g)
    cum = base.select(
        *g, "_v", "_w",
        F.sum("_w").over(w).alias("_cum"),
        F.sum("_w").over(wall).alias("_tot"),
    )
    qarr = F.filter(
        F.array(*[F.lit(int(q)) for q in sorted(qs_pct)]),
        lambda q: (
            (F.col("_cum") * 100 >= q.cast(d38) * F.col("_tot"))
            & ((F.col("_cum") - F.col("_w")) * 100 < q.cast(d38) * F.col("_tot"))
        ),
    )
    return cum.select(
        *g, F.explode(qarr).alias("q_pct"), "_v", "_cum", "_tot"
    ).select(
        *g,
        "q_pct",
        F.col("_v").alias("value"),
        F.col("_cum").cast("bigint").alias("cum_weight_q"),
        F.col("_tot").cast("bigint").alias("total_weight_q"),
    )


def weighted_quantile_oracle_sql(
    from_sql: str,
    value_col: str,
    weight_col: str,
    id_col: str,
    qs_pct: tuple[int, ...] = (25, 50, 75),
    group_cols: tuple[str, ...] = (),
    weight_quantum: int = 10**6,
) -> str:
    """DuckDB replay of :func:`weighted_quantile` — same pinned order,
    same integer crossing test, HUGEINT for the DECIMAL lane."""
    g = list(group_cols)
    gsel = "".join(f"{c}, " for c in g)
    part = ("PARTITION BY " + ", ".join(g)) if g else ""
    qvals = ", ".join(str(int(q)) for q in sorted(qs_pct))
    return f"""WITH base AS (
  SELECT {gsel}{id_col} AS id, {value_col} AS v,
         CAST(floor(CAST({weight_col} AS DOUBLE) * {weight_quantum})
              AS HUGEINT) AS w
  FROM ({from_sql})
  WHERE {value_col} IS NOT NULL AND {weight_col} IS NOT NULL),
pos AS (SELECT * FROM base WHERE w > 0),
cum AS (SELECT {gsel}v, w,
    sum(w) OVER ({part + (" " if part else "")}ORDER BY v, id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
    sum(w) OVER ({part if part else ""}) AS tot
  FROM pos),
q AS (SELECT unnest([{qvals}]) AS q_pct)
SELECT {gsel}q_pct, v AS value, CAST(c AS BIGINT) AS cum_weight_q,
       CAST(tot AS BIGINT) AS total_weight_q
FROM cum JOIN q ON c * 100 >= q_pct * tot
                AND (c - w) * 100 < q_pct * tot"""


def welch_t(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    quantum: int = 1_000_000,
    t_crit_milli: int = 1960,
    round_to: int = 6,
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups — the two-sample
    mean comparison that does NOT assume equal spreads (Welch 1947), which
    is the honest default on web data where group variances differ by
    orders of magnitude (en vs a tail language): ONE row ``(n_a, n_b,
    mean_a, mean_b, mean_diff, t, df_welch, significant)`` with
    t = (m_a − m_b) / √(s_a²/n_a + s_b²/n_b) and the Welch–Satterthwaite
    degrees of freedom
    df = (s_a²/n_a + s_b²/n_b)² / ((s_a²/n_a)²/(n_a−1) + (s_b²/n_b)²/(n_b−1)).

    Where :func:`cohens_d` pools the variances (a magnitude statement),
    Welch keeps them separate (an inference statement) — together with
    the Mann–Whitney U they complete the two-sample toolkit: parametric
    unequal-variance, effect size, and rank-based.

    Exactness: the house quantized DECIMAL(38,0) moment sums per group
    in one partial-agg pass, then a fixed double chain (two divisions,
    one sqrt — correctly-rounded IEEE ops). ``significant`` compares
    |t|·1000 against the integer ``t_crit_milli`` (1960 = the two-sided
    5% NORMAL approximation — exact for the corpus-sized n this engine
    runs at, where df_welch is in the thousands and t ≈ z; at small df
    read df_welch against a t-table instead). Degenerate inputs (either
    group < 2 rows, or both variances zero) yield NULL t/df_welch and
    significant=false, never a div/0.

    Scale shape: one scan, one partial+final aggregate of six sums —
    the same single-row reduction as cohens_d; nothing here grows with
    corpus size.
    """
    v = F.col(value_col).cast("double")
    q = F.floor(v * F.lit(quantum)).cast("decimal(38,0)")
    base = df.where(
        v.isNotNull() & F.col(group_col).isin([group_a, group_b])
    ).select((F.col(group_col) == group_a).alias("_ga"), q.alias("_q"))
    agg = base.agg(
        F.sum(F.col("_ga").cast("long")).cast("bigint").alias("n_a"),
        F.sum((~F.col("_ga")).cast("long")).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("_ga"), F.col("_q"))).alias("sa"),
        F.sum(F.when(~F.col("_ga"), F.col("_q"))).alias("sb"),
        F.sum(F.when(F.col("_ga"), F.col("_q") * F.col("_q"))).alias("saa"),
        F.sum(F.when(~F.col("_ga"), F.col("_q") * F.col("_q"))).alias("sbb"),
    )
    qd = F.lit(float(quantum))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    saa, sbb = F.col("saa").cast("double"), F.col("sbb").cast("double")
    ma, mb = sa / na / qd, sb / nb / qd
    va = (saa - sa * sa / na) / (na - F.lit(1.0)) / (qd * qd)
    vb = (sbb - sb * sb / nb) / (nb - F.lit(1.0)) / (qd * qd)
    sea, seb = va / na, vb / nb
    se2 = sea + seb
    tval = (ma - mb) / F.sqrt(se2)
    dfw = (se2 * se2) / (
        sea * sea / (na - F.lit(1.0)) + seb * seb / (nb - F.lit(1.0))
    )
    ok = (F.col("n_a") > 1) & (F.col("n_b") > 1)
    tcol = F.when(ok & (se2 > 0), tval)
    return agg.select(
        "n_a",
        "n_b",
        F.round(F.when(F.col("n_a") > 0, ma), round_to).alias("mean_a"),
        F.round(F.when(F.col("n_b") > 0, mb), round_to).alias("mean_b"),
        F.round(F.when(ok, ma - mb), round_to).alias("mean_diff"),
        F.round(tcol, round_to).alias("t"),
        F.round(F.when(ok & (se2 > 0), dfw), round_to).alias("df_welch"),
        F.coalesce(
            F.abs(tcol) * 1000 > F.lit(float(t_crit_milli)), F.lit(False)
        ).alias("significant"),
    )


def species_richness(
    df: DataFrame,
    key_col: str,
    group_cols: tuple[str, ...] = (),
    round_to: int = 6,
) -> DataFrame:
    """Good–Turing sample coverage + Chao1 species-richness estimate of a
    key column (Good 1953; Chao 1984, bias-corrected form) — the
    "how saturated is this crawl/vocabulary" question the distinct-count
    analyzers can't answer: ``distinct_seen`` says what we HAVE,
    ``chao1`` estimates what EXISTS, and ``coverage`` is the Good–Turing
    probability that the next observation is a value already seen
    (1 − f1/n, the Turing estimator — the unseen mass IS the singleton
    mass). One row per group: ``(group_cols…, n_obs, distinct_seen, f1,
    f2, coverage, chao1)`` with

    * f1/f2 = number of values seen exactly once / exactly twice,
    * chao1 = D + f1·(f1−1)/(2·(f2+1)) — the bias-corrected Chao1 lower
      bound on total richness, defined even at f2 = 0 (the classic
      f1²/(2f2) form divides by zero exactly when the estimate matters
      most: a crawl slice of near-all-singletons).

    The web-validation reads: a per-lang token table whose chao1 is
    ~distinct_seen is vocabulary-saturated (tokenizer training has seen
    the language); coverage collapsing toward 0 on a host/url column
    means the frontier is still exploding and a distinct-count SLO gate
    on "seen" undercounts reality by chao1/distinct_seen.

    Exactness: n/D/f1/f2 are exact integers from two stacked partial
    aggregates; coverage is one exact rational quotient rounded;
    chao1's correction is a fixed double chain floor-quantized to
    integer micros before the add — identical in both engines.

    Scale shape: groupBy(key) then groupBy(group) — two partial-agg
    shuffles, the first keyed on the full (group, key) space (the same
    shape as exact distinct), the second on #groups rows. Nothing is
    collected; f1/f2 fall out of the same count rows.
    """
    counts = df.groupBy(*group_cols, key_col).agg(F.count(F.lit(1)).alias("_c"))
    fof = counts.groupBy(*group_cols).agg(
        F.sum("_c").cast("bigint").alias("n_obs"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_seen"),
        F.sum((F.col("_c") == 1).cast("long")).cast("bigint").alias("f1"),
        F.sum((F.col("_c") == 2).cast("long")).cast("bigint").alias("f2"),
    )
    f1d = F.col("f1").cast("double")
    extra_micro = F.floor(
        f1d * (f1d - F.lit(1.0))
        / (F.lit(2.0) * (F.col("f2").cast("double") + F.lit(1.0)))
        * F.lit(1e6)
    )
    return fof.select(
        *group_cols,
        "n_obs",
        "distinct_seen",
        "f1",
        "f2",
        F.round(
            F.lit(1.0) - f1d / F.col("n_obs").cast("double"), round_to
        ).alias("coverage"),
        F.round(
            F.col("distinct_seen").cast("double") + extra_micro / F.lit(1e6),
            round_to,
        ).alias("chao1"),
    )


def species_richness_oracle_sql(
    from_sql: str,
    key_col: str,
    group_cols: tuple[str, ...] = (),
    round_to: int = 6,
) -> str:
    """DuckDB replay of :func:`species_richness` — same two stacked
    aggregates, same floor-quantized correction chain."""
    g = ", ".join(group_cols)
    gsel = f"{g}, " if group_cols else ""
    gby = f"GROUP BY {g}" if group_cols else ""
    return f"""WITH src AS ({from_sql}),
counts AS (SELECT {gsel}{key_col} AS _k, count(*) AS c
           FROM src GROUP BY {gsel}{key_col}),
fof AS (SELECT {gsel}CAST(sum(c) AS BIGINT) AS n_obs,
               CAST(count(*) AS BIGINT) AS distinct_seen,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
               CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        FROM counts {gby})
SELECT {gsel}n_obs, distinct_seen, f1, f2,
  round(1.0 - CAST(f1 AS DOUBLE) / CAST(n_obs AS DOUBLE), {round_to})
      AS coverage,
  round(CAST(distinct_seen AS DOUBLE)
        + floor(CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0)
                / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)) * 1e6) / 1e6,
        {round_to}) AS chao1
FROM fof"""


def cramers_v(df: DataFrame, x: str, y: str, round_to: int = 6) -> DataFrame:
    """Cramér's V association between two categorical columns (Cramér
    1946): one row ``(n_rows, n_x, n_y, dof, chi2, v)`` — the BOUNDED
    [0,1] companion to :func:`mutual_information` (MI is in nats and
    grows with entropy, so it can't be compared across column pairs; V
    normalizes the chi² statistic by its maximum, so "lang↔source
    V=0.9" and "tld↔lang V=0.2" are directly comparable). The
    profiling read: V ≈ 1 between two columns means one is derivable
    from the other — a redundant quasi-identifier for the k-anonymity
    audit, or a leaking feature for the quality model.

    chi² over the full r×c grid WITHOUT generating the grid: unobserved
    cells contribute exactly their expectation e, and Σ_all e = n, so
    chi² = Σ_observed[(o−e)²/e − e] + n — the zero cells collapse into
    one closed-form correction (the sparse-contingency identity; a
    literal r×c expansion at web cardinalities would be its own join
    explosion). NULL is a category on both sides, like MI.

    Exactness: e = n_x·n_y/n is an exact-rational double on integer
    counts; each per-cell term rounds to 12 dp then sums in
    DECIMAL(20,12) (order-free); V is one division + sqrt. A single-
    category side (dof = 0) yields NULL v, never div/0; chi² can dip
    epsilon-negative only via the 12-dp rounding, clamped at 0.

    Scale: one (x, y) groupBy, two window sums over the #cells table —
    the mutual_information plan shape exactly.
    """
    from pyspark.sql import Window

    xc = F.coalesce(F.col(x).cast("string"), F.lit(" null")).alias("_x")
    yc = F.coalesce(F.col(y).cast("string"), F.lit(" null")).alias("_y")
    joint = df.select(xc, yc).groupBy("_x", "_y").agg(
        F.count(F.lit(1)).alias("_nxy")
    )
    wx = Window.partitionBy("_x")
    wy = Window.partitionBy("_y")
    wall = Window.partitionBy()
    marg = (
        joint.withColumn("_nx", F.sum("_nxy").over(wx))
        .withColumn("_ny", F.sum("_nxy").over(wy))
        .withColumn("_t", F.sum("_nxy").over(wall))
    )
    e = F.col("_nx").cast("double") * F.col("_ny").cast("double") / F.col(
        "_t"
    ).cast("double")
    o = F.col("_nxy").cast("double")
    term = (o - e) * (o - e) / e - e
    terms = marg.select(
        "_nxy",
        "_x",
        "_y",
        F.round(term, 12).cast("decimal(20,12)").alias("_term"),
    )
    agg = terms.agg(
        F.sum("_nxy").cast("bigint").alias("n_rows"),
        F.count_distinct("_x").cast("bigint").alias("n_x"),
        F.count_distinct("_y").cast("bigint").alias("n_y"),
        F.sum("_term").alias("_tsum"),
    )
    chi2 = F.greatest(
        F.col("_tsum").cast("double") + F.col("n_rows").cast("double"),
        F.lit(0.0),
    )
    kmin = F.least(F.col("n_x"), F.col("n_y")).cast("double") - F.lit(1.0)
    dof = (F.col("n_x") - 1) * (F.col("n_y") - 1)
    return agg.select(
        "n_rows",
        "n_x",
        "n_y",
        dof.cast("bigint").alias("dof"),
        F.round(chi2, round_to).alias("chi2"),
        F.round(
            F.when(
                (kmin > 0) & (F.col("n_rows") > 0),
                F.sqrt(chi2 / (F.col("n_rows").cast("double") * kmin)),
            ),
            round_to,
        ).alias("v"),
    )


def cramers_v_oracle_sql(from_sql: str, x: str, y: str, round_to: int = 6) -> str:
    """DuckDB replay of :func:`cramers_v`; same sparse-grid identity,
    same 12-dp pre-sum rounding."""
    return f"""WITH src AS ({from_sql}),
joint AS (SELECT coalesce(CAST({x} AS VARCHAR), ' null') AS _x,
                 coalesce(CAST({y} AS VARCHAR), ' null') AS _y,
                 count(*) AS nxy
          FROM src GROUP BY 1, 2),
marg AS (SELECT nxy,
                _x, _y,
                sum(nxy) OVER (PARTITION BY _x) AS nx,
                sum(nxy) OVER (PARTITION BY _y) AS ny,
                sum(nxy) OVER () AS t
         FROM joint),
terms AS (SELECT nxy, _x, _y,
    CAST(round((CAST(nxy AS DOUBLE) - CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)
                / CAST(t AS DOUBLE))
           * (CAST(nxy AS DOUBLE) - CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)
                / CAST(t AS DOUBLE))
           / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / CAST(t AS DOUBLE))
           - CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE) / CAST(t AS DOUBLE), 12)
         AS DECIMAL(20,12)) AS term
   FROM marg),
agg AS (SELECT CAST(sum(nxy) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT _x) AS BIGINT) AS n_x,
               CAST(count(DISTINCT _y) AS BIGINT) AS n_y,
               sum(term) AS tsum
        FROM terms)
SELECT n_rows, n_x, n_y,
  CAST((n_x - 1) * (n_y - 1) AS BIGINT) AS dof,
  round(greatest(CAST(tsum AS DOUBLE) + CAST(n_rows AS DOUBLE), 0.0),
        {round_to}) AS chi2,
  round(CASE WHEN least(n_x, n_y) > 1 AND n_rows > 0 THEN
      sqrt(greatest(CAST(tsum AS DOUBLE) + CAST(n_rows AS DOUBLE), 0.0)
           / (CAST(n_rows AS DOUBLE) * (CAST(least(n_x, n_y) AS DOUBLE) - 1.0)))
    END, {round_to}) AS v
FROM agg"""


def mantel_haenszel(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
    stratum_col: str,
    chi2_crit_milli: int = 3841,
    round_to: int = 6,
) -> DataFrame:
    """Mantel–Haenszel stratified 2×2 analysis (Mantel & Haenszel 1959;
    Cochran 1954) — the FIX for what :func:`simpsons_paradox_check`
    detects: a pooled exposure→outcome comparison that adjusts for a
    confounding stratum (source, lang, date) instead of letting a
    composition shift masquerade as an effect. ONE row ``(n, n_strata,
    n_informative_strata, or_mh, chi2_cmh, p, significant)`` with the
    MH common odds ratio

        OR = Σ_i (a_i·d_i/n_i) / Σ_i (b_i·c_i/n_i)

    and the Cochran–Mantel–Haenszel chi² (1 df, no continuity
    correction — at corpus n it is sub-ulp; documented):

        chi2 = (Σ(a_i − E_i))² / ΣV_i,   E_i = r1_i·c1_i/n_i,
        V_i  = r1_i·r0_i·c1_i·c0_i / (n_i²(n_i − 1)).

    Strata where either margin is degenerate (all-exposed, all-outcome,
    n_i < 2) contribute nothing to either sum — ``n_informative_strata``
    counts the ones that do, so a verdict built on 2 of 40 strata is
    visible. OR is NULL when the denominator sum is 0 (no discordant
    cells anywhere); chi2/p NULL at zero variance.

    Exactness: per-stratum cells are exact integers from ONE
    partial-agg pass (the four cells pivot from two boolean columns);
    each stratum's OR-numerator/denominator/E/V term is a fixed double
    chain rounded to 12 dp and DECIMAL-summed over the bounded stratum
    table; the final OR/chi² are two divisions.

    Scale shape: one scan → (stratum) aggregate → #strata-row term
    fold → 1-row reduction. Nothing grows with corpus size.
    """
    e = F.col(exposure_col).cast("boolean")
    o = F.col(outcome_col).cast("boolean")
    base = df.where(
        e.isNotNull() & o.isNotNull() & F.col(stratum_col).isNotNull()
    ).select(F.col(stratum_col).alias("_st"), e.alias("_e"), o.alias("_o"))
    per = base.groupBy("_st").agg(
        F.sum((F.col("_e") & F.col("_o")).cast("long")).cast("bigint").alias("_a"),
        F.sum((F.col("_e") & ~F.col("_o")).cast("long")).cast("bigint").alias("_b"),
        F.sum((~F.col("_e") & F.col("_o")).cast("long")).cast("bigint").alias("_c"),
        F.sum((~F.col("_e") & ~F.col("_o")).cast("long")).cast("bigint").alias("_d"),
    )
    ni = (F.col("_a") + F.col("_b") + F.col("_c") + F.col("_d")).cast("double")
    r1 = (F.col("_a") + F.col("_b")).cast("double")  # exposed
    r0 = (F.col("_c") + F.col("_d")).cast("double")
    c1 = (F.col("_a") + F.col("_c")).cast("double")  # outcome
    c0 = (F.col("_b") + F.col("_d")).cast("double")
    informative = (ni > 1) & (r1 > 0) & (r0 > 0) & (c1 > 0) & (c0 > 0)
    num = F.col("_a").cast("double") * F.col("_d").cast("double") / ni
    den = F.col("_b").cast("double") * F.col("_c").cast("double") / ni
    ei = r1 * c1 / ni
    vi = r1 * r0 * c1 * c0 / (ni * ni * (ni - F.lit(1.0)))
    z12 = F.lit(0).cast("decimal(38,12)")
    terms = per.select(
        (F.col("_a") + F.col("_b") + F.col("_c") + F.col("_d")).alias("_n"),
        informative.cast("long").alias("_inf"),
        F.when(informative, F.round(num, 12).cast("decimal(38,12)"))
        .otherwise(z12)
        .alias("_num"),
        F.when(informative, F.round(den, 12).cast("decimal(38,12)"))
        .otherwise(z12)
        .alias("_den"),
        F.when(
            informative,
            F.round(F.col("_a").cast("double") - ei, 12).cast("decimal(38,12)"),
        )
        .otherwise(z12)
        .alias("_ome"),
        F.when(informative, F.round(vi, 12).cast("decimal(38,12)"))
        .otherwise(z12)
        .alias("_v"),
    )
    agg = terms.agg(
        F.sum("_n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("_inf").cast("bigint").alias("n_informative_strata"),
        F.sum("_num").alias("_N"),
        F.sum("_den").alias("_D"),
        F.sum("_ome").alias("_O"),
        F.sum("_v").alias("_V"),
    )
    nd_ = F.col("_N").cast("double")
    dd = F.col("_D").cast("double")
    od = F.col("_O").cast("double")
    vd = F.col("_V").cast("double")
    or_mh = F.when(dd > 0, nd_ / dd)
    chi2 = F.when(vd > 0, od * od / vd)
    return agg.select(
        "n",
        "n_strata",
        "n_informative_strata",
        F.round(or_mh, round_to).alias("or_mh"),
        F.round(chi2, round_to).alias("chi2_cmh"),
        F.round(F.when(vd > 0, _p_two_sided(F.sqrt(chi2))), round_to).alias("p"),
        F.coalesce(
            chi2 * 1000 > F.lit(float(chi2_crit_milli)), F.lit(False)
        ).alias("significant"),
    )


def mantel_haenszel_oracle_sql(
    from_sql: str,
    chi2_crit_milli: int = 3841,
    round_to: int = 6,
) -> str:
    """DuckDB replay of :func:`mantel_haenszel`; ``from_sql`` yields
    ``(st, e BOOLEAN, o BOOLEAN)`` rows, nulls pre-filtered."""
    chi2 = "(CASE WHEN CAST(V AS DOUBLE) > 0 THEN CAST(O AS DOUBLE) * CAST(O AS DOUBLE) / CAST(V AS DOUBLE) END)"
    p = f"(CASE WHEN CAST(V AS DOUBLE) > 0 THEN {_p_two_sided_sql(f'sqrt({chi2})')} END)"
    return f"""WITH src AS ({from_sql}),
per AS (SELECT st,
    CAST(sum(CASE WHEN e AND o THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(sum(CASE WHEN e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(sum(CASE WHEN NOT e AND o THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(sum(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM src GROUP BY st),
terms AS (SELECT a + b + c + d AS nn,
    CASE WHEN a + b + c + d > 1 AND a + b > 0 AND c + d > 0
          AND a + c > 0 AND b + d > 0 THEN 1 ELSE 0 END AS inf,
    CASE WHEN a + b + c + d > 1 AND a + b > 0 AND c + d > 0
          AND a + c > 0 AND b + d > 0 THEN
      CAST(round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
           / CAST(a + b + c + d AS DOUBLE), 12) AS DECIMAL(38,12))
      ELSE CAST(0 AS DECIMAL(38,12)) END AS num,
    CASE WHEN a + b + c + d > 1 AND a + b > 0 AND c + d > 0
          AND a + c > 0 AND b + d > 0 THEN
      CAST(round(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
           / CAST(a + b + c + d AS DOUBLE), 12) AS DECIMAL(38,12))
      ELSE CAST(0 AS DECIMAL(38,12)) END AS den,
    CASE WHEN a + b + c + d > 1 AND a + b > 0 AND c + d > 0
          AND a + c > 0 AND b + d > 0 THEN
      CAST(round(CAST(a AS DOUBLE)
           - CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
             / CAST(a + b + c + d AS DOUBLE), 12) AS DECIMAL(38,12))
      ELSE CAST(0 AS DECIMAL(38,12)) END AS ome,
    CASE WHEN a + b + c + d > 1 AND a + b > 0 AND c + d > 0
          AND a + c > 0 AND b + d > 0 THEN
      CAST(round(CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
           * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)
           / (CAST(a + b + c + d AS DOUBLE) * CAST(a + b + c + d AS DOUBLE)
              * (CAST(a + b + c + d AS DOUBLE) - 1.0)), 12)
           AS DECIMAL(38,12))
      ELSE CAST(0 AS DECIMAL(38,12)) END AS v
  FROM per),
agg AS (SELECT CAST(sum(nn) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_strata,
               CAST(sum(inf) AS BIGINT) AS n_informative_strata,
               sum(num) AS Nm, sum(den) AS D, sum(ome) AS O, sum(v) AS V
        FROM terms)
SELECT n, n_strata, n_informative_strata,
  round(CASE WHEN CAST(D AS DOUBLE) > 0
        THEN CAST(Nm AS DOUBLE) / CAST(D AS DOUBLE) END, {round_to}) AS or_mh,
  round({chi2}, {round_to}) AS chi2_cmh,
  round({p}, {round_to}) AS p,
  coalesce({chi2} * 1000 > {chi2_crit_milli}, FALSE) AS significant
FROM agg"""


def jonckheere_terpstra(
    df: DataFrame,
    score_col: str,
    value_col: str,
    quantum: int = 1_000_000,
    z_crit_milli: int = 1960,
    round_to: int = 6,
) -> DataFrame:
    """Jonckheere–Terpstra ordered-alternative test (Jonckheere 1954;
    Terpstra 1952) — the Cochran–Armitage trend test's CONTINUOUS
    sibling: "does the metric RISE across
    ordered buckets", the one-directed-df question Kruskal–Wallis
    wastes power on by testing any-difference. ``score_col`` is the
    integer group order, ``value_col`` the metric. ONE row ``(n,
    n_groups, j_doubled, z, p, significant)`` with

        J = Σ_{i<j} [#(x_i < x_j) + ½·#(x_i = x_j)]

    (``j_doubled`` = 2J stays integer — the hash-grade statistic),
    E[J] = (N² − Σnᵢ²)/4, and the FULL tie-corrected normal variance
    (Lehmann 1975's three-term form — every term an exact integer sum
    over group sizes nᵢ and value-tie sizes tⱼ).

    Mechanics: values quantize to integer micros and collapse to a
    (group, value) CELL lattice; J is a cell-pair product join over
    that lattice restricted to ga < gb — the kendall_tau device, with
    the same disclosed contract: cost is O(cells²), boundedness of the
    quantized grid is the caller's contract (coarsen the quantum for
    heavy-tailed metrics), and a coarse quantum computes the exact JT
    of the coarsened values. Zero-variance degenerates (one group, or
    all values tied) yield NULL z/p, never div/0.
    """
    d38 = "decimal(38,0)"
    s = F.col(score_col).cast("long")
    v = F.col(value_col).cast("double")
    q = F.floor(v * F.lit(quantum)).cast("bigint")
    base = df.where(s.isNotNull() & v.isNotNull()).select(
        s.alias("_g"), q.alias("_v")
    )
    cells = base.groupBy("_g", "_v").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    a = cells.select(
        F.col("_g").alias("_ga"), F.col("_v").alias("_va"), F.col("_c").alias("_ca")
    )
    b = cells.select(
        F.col("_g").alias("_gb"), F.col("_v").alias("_vb"), F.col("_c").alias("_cb")
    )
    pairs = a.join(b, (F.col("_ga") < F.col("_gb")) & (F.col("_va") <= F.col("_vb")))
    j2 = pairs.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_va") < F.col("_vb"),
                    (F.col("_ca") * F.col("_cb") * 2).cast(d38),
                ).otherwise((F.col("_ca") * F.col("_cb")).cast(d38))
            ),
            F.lit(0).cast(d38),
        ).alias("_j2")
    )
    gsz = cells.groupBy("_g").agg(F.sum("_c").cast("bigint").alias("_n"))
    gagg = gsz.agg(
        F.sum("_n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.expr(f"CAST(_n AS {d38}) * _n")).alias("_sn2"),
        F.sum(F.expr(f"CAST(_n AS {d38}) * (_n - 1) * (2 * _n + 5)")).alias("_t1g"),
        F.sum(F.expr(f"CAST(_n AS {d38}) * (_n - 1) * (_n - 2)")).alias("_t2g"),
        F.sum(F.expr(f"CAST(_n AS {d38}) * (_n - 1)")).alias("_t3g"),
    )
    tsz = cells.groupBy("_v").agg(F.sum("_c").cast("bigint").alias("_t"))
    tagg = tsz.agg(
        F.sum(F.expr(f"CAST(_t AS {d38}) * (_t - 1) * (2 * _t + 5)")).alias("_t1t"),
        F.sum(F.expr(f"CAST(_t AS {d38}) * (_t - 1) * (_t - 2)")).alias("_t2t"),
        F.sum(F.expr(f"CAST(_t AS {d38}) * (_t - 1)")).alias("_t3t"),
    )
    out = gagg.crossJoin(F.broadcast(tagg)).crossJoin(F.broadcast(j2))
    nd = F.col("n").cast("double")
    var = (
        (
            nd * (nd - 1) * (2 * nd + 5)
            - F.col("_t1g").cast("double")
            - F.col("_t1t").cast("double")
        )
        / F.lit(72.0)
        + F.col("_t2g").cast("double")
        * F.col("_t2t").cast("double")
        / (F.lit(36.0) * nd * (nd - 1) * (nd - 2))
        + F.col("_t3g").cast("double")
        * F.col("_t3t").cast("double")
        / (F.lit(8.0) * nd * (nd - 1))
    )
    ej2 = (nd * nd - F.col("_sn2").cast("double")) / F.lit(2.0)
    z = F.when(
        (F.col("n") > 2) & (var > 0),
        (F.col("_j2").cast("double") - ej2) / F.lit(2.0) / F.sqrt(var),
    )
    return out.select(
        "n",
        "n_groups",
        F.col("_j2").cast("bigint").alias("j_doubled"),
        F.round(z, round_to).alias("z"),
        F.round(F.when(z.isNotNull(), _p_two_sided(z)), round_to).alias("p"),
        F.coalesce(
            F.abs(z) * 1000 > F.lit(float(z_crit_milli)), F.lit(False)
        ).alias("significant"),
    )


def woolf_homogeneity(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
    stratum_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Woolf's test of odds-ratio homogeneity across strata (Woolf
    1955) — the precondition :func:`mantel_haenszel` silently assumes:
    a pooled common OR is only meaningful if the strata AGREE on it;
    when they don't (effect modification — the filter helps one source
    and hurts another), the honest report is per-stratum, not pooled.
    ONE row ``(n, n_strata, n_informative_strata, q, dof, z_wh, p,
    heterogeneous)``:

        Q = Σ wᵢ(ln ORᵢ − ln ŌR)²,  wᵢ = (1/aᵢ+1/bᵢ+1/cᵢ+1/dᵢ)⁻¹,
        ŌR = exp(Σwᵢ ln ORᵢ / Σwᵢ),   Q ~ chi²(k−1) under homogeneity.

    Haldane–Anscombe ½ is added to EVERY cell (the standard
    continuity device, keeping zero cells finite and applied uniformly
    so both engines agree); strata with n < 2 are excluded and counted.
    The chi²(k−1) p uses the Wilson–Hilferty cube-root normal
    approximation (a fixed double chain on (Q, dof) — the same
    shared-polynomial contract as every other p here). dof = k−1;
    k < 2 informative strata → NULL Q/p (nothing to compare).

    Exactness: cells are exact integers; per-stratum ln/weight terms
    are fixed double chains rounded to 12 dp and DECIMAL-summed; ŌR
    needs a second pass over the BOUNDED stratum table only. One corpus
    scan total.
    """
    e = F.col(exposure_col).cast("boolean")
    o = F.col(outcome_col).cast("boolean")
    base = df.where(
        e.isNotNull() & o.isNotNull() & F.col(stratum_col).isNotNull()
    ).select(F.col(stratum_col).alias("_st"), e.alias("_e"), o.alias("_o"))
    per = base.groupBy("_st").agg(
        F.sum((F.col("_e") & F.col("_o")).cast("long")).cast("bigint").alias("_a"),
        F.sum((F.col("_e") & ~F.col("_o")).cast("long")).cast("bigint").alias("_b"),
        F.sum((~F.col("_e") & F.col("_o")).cast("long")).cast("bigint").alias("_c"),
        F.sum((~F.col("_e") & ~F.col("_o")).cast("long")).cast("bigint").alias("_d"),
    )
    half = F.lit(0.5)
    ah = F.col("_a").cast("double") + half
    bh = F.col("_b").cast("double") + half
    ch = F.col("_c").cast("double") + half
    dh = F.col("_d").cast("double") + half
    ni = (F.col("_a") + F.col("_b") + F.col("_c") + F.col("_d")).cast("bigint")
    informative = ni >= 2
    lor = F.log(ah * dh / (bh * ch))
    w = F.lit(1.0) / (
        F.lit(1.0) / ah + F.lit(1.0) / bh + F.lit(1.0) / ch + F.lit(1.0) / dh
    )
    z12 = F.lit(0).cast("decimal(38,12)")
    terms = per.select(
        ni.alias("_n"),
        informative.cast("long").alias("_inf"),
        F.when(informative, F.round(w, 12).cast("decimal(38,12)"))
        .otherwise(z12)
        .alias("_w"),
        F.when(informative, F.round(w * lor, 12).cast("decimal(38,12)"))
        .otherwise(z12)
        .alias("_wl"),
        F.when(informative, F.round(w * lor * lor, 12).cast("decimal(38,12)"))
        .otherwise(z12)
        .alias("_wll"),
    )
    agg = terms.agg(
        F.sum("_n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("_inf").cast("bigint").alias("n_informative_strata"),
        F.sum("_w").alias("_W"),
        F.sum("_wl").alias("_WL"),
        F.sum("_wll").alias("_WLL"),
    )
    Wd = F.col("_W").cast("double")
    WLd = F.col("_WL").cast("double")
    WLLd = F.col("_WLL").cast("double")
    # Q = Σ w·lor² − (Σ w·lor)²/Σw  (the one-pass sums form)
    qstat = F.greatest(WLLd - WLd * WLd / Wd, F.lit(0.0))
    k = F.col("n_informative_strata")
    dof = (k - 1).cast("bigint")
    dofd = dof.cast("double")
    ok = (k > 1) & (Wd > 0)
    # Wilson–Hilferty: chi2(df) -> z
    zwh = F.when(
        ok,
        (
            F.cbrt(qstat / dofd)
            - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dofd))
        )
        / F.sqrt(F.lit(2.0) / (F.lit(9.0) * dofd)),
    )
    # upper-tail chi2 p = one-sided normal tail of z_wh
    half_p = _p_two_sided(zwh) / F.lit(2.0)
    p = F.when(ok, F.when(zwh >= 0, half_p).otherwise(F.lit(1.0) - half_p))
    return agg.select(
        "n",
        "n_strata",
        "n_informative_strata",
        F.round(F.when(ok, qstat), round_to).alias("q"),
        dof.alias("dof"),
        F.round(zwh, round_to).alias("z_wh"),
        F.round(p, round_to).alias("p"),
        F.coalesce(p < 0.05, F.lit(False)).alias("heterogeneous"),
    )


def woolf_homogeneity_oracle_sql(from_sql: str, round_to: int = 6) -> str:
    """DuckDB replay of :func:`woolf_homogeneity`; ``from_sql`` yields
    ``(st, e BOOLEAN, o BOOLEAN)`` rows, nulls pre-filtered."""
    half_p = f"({_p_two_sided_sql('zwh')} / 2.0)"
    p = (
        "(CASE WHEN ok THEN CASE WHEN zwh >= 0 THEN "
        + half_p
        + " ELSE 1.0 - "
        + half_p
        + " END END)"
    )
    return f"""WITH src AS ({from_sql}),
per AS (SELECT st,
    CAST(sum(CASE WHEN e AND o THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(sum(CASE WHEN e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(sum(CASE WHEN NOT e AND o THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(sum(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM src GROUP BY st),
hh AS (SELECT a + b + c + d AS nn,
    CASE WHEN a + b + c + d >= 2 THEN 1 ELSE 0 END AS inf,
    CAST(a AS DOUBLE) + 0.5 AS ah, CAST(b AS DOUBLE) + 0.5 AS bh,
    CAST(c AS DOUBLE) + 0.5 AS ch, CAST(d AS DOUBLE) + 0.5 AS dh
  FROM per),
terms AS (SELECT nn, inf,
    CASE WHEN inf = 1 THEN CAST(round(
      1.0 / (1.0 / ah + 1.0 / bh + 1.0 / ch + 1.0 / dh), 12)
      AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12)) END AS w,
    CASE WHEN inf = 1 THEN CAST(round(
      1.0 / (1.0 / ah + 1.0 / bh + 1.0 / ch + 1.0 / dh)
      * ln(ah * dh / (bh * ch)), 12)
      AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12)) END AS wl,
    CASE WHEN inf = 1 THEN CAST(round(
      1.0 / (1.0 / ah + 1.0 / bh + 1.0 / ch + 1.0 / dh)
      * ln(ah * dh / (bh * ch)) * ln(ah * dh / (bh * ch)), 12)
      AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12)) END AS wll
  FROM hh),
agg AS (SELECT CAST(sum(nn) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_strata,
               CAST(sum(inf) AS BIGINT) AS n_informative_strata,
               sum(w) AS W, sum(wl) AS WL, sum(wll) AS WLL
        FROM terms),
m AS (SELECT *,
    greatest(CAST(WLL AS DOUBLE)
             - CAST(WL AS DOUBLE) * CAST(WL AS DOUBLE)
               / CAST(W AS DOUBLE), 0.0) AS qstat,
    CAST(n_informative_strata - 1 AS BIGINT) AS dof,
    n_informative_strata > 1 AND CAST(W AS DOUBLE) > 0 AS ok
  FROM agg),
m2 AS (SELECT *,
    CASE WHEN ok THEN
      (cbrt(qstat / CAST(dof AS DOUBLE))
       - (1.0 - 2.0 / (9.0 * CAST(dof AS DOUBLE))))
      / sqrt(2.0 / (9.0 * CAST(dof AS DOUBLE))) END AS zwh
  FROM m)
SELECT n, n_strata, n_informative_strata,
  round(CASE WHEN ok THEN qstat END, {round_to}) AS q,
  dof,
  round(zwh, {round_to}) AS z_wh,
  round({p}, {round_to}) AS p,
  coalesce({p} < 0.05, FALSE) AS heterogeneous
FROM m2"""


def kendalls_w(
    df: DataFrame,
    item_col: str,
    scorer_col: str,
    value_col: str,
    quantum: int = 1_000_000,
    round_to: int = 6,
) -> DataFrame:
    """Kendall's W coefficient of concordance (Kendall & Babington
    Smith 1939), tie-corrected — do ``m`` scorers agree on the ranking
    of ``n`` items at all? The multi-judge generalization of the
    pairwise agreement family (κ: two categorical raters; RBO: two
    top-k lists; W: m full rankings — "do the quality signals
    length/lexical/punctuation actually order documents consistently,
    or is the composite score averaging noise"). ONE row ``(n_items,
    n_scorers, w, chi2, dof, p, significant)`` with the tie-corrected

        W = (3·ΣR̃ᵢ² − 3m²n(n+1)²) / (m²n(n²−1) − m·ΣTⱼ)

    in DOUBLED-rank space (average ranks are exact integer halves, so
    the doubled per-item rank sums R̃ᵢ keep every numerator term an
    exact integer; Tⱼ = Σ(t³−t) over
    scorer j's tie blocks), and the chi²(n−1) = m(n−1)W significance
    via the Wilson–Hilferty chain (the Woolf device). W = 1 perfect
    concordance, W → 0 no agreement. Items must be scored by EVERY
    scorer (the Friedman-design contract): rows for items missing any
    scorer are dropped and the count reported via n_items.

    Exactness: values quantize to micros; per-scorer average ranks
    come from the (scorer, value) cell lattice (one window per scorer
    partition over the bounded lattice); every sum is DECIMAL(38,0) on
    integers. Degenerate inputs (n < 3, m < 2, or all-tied scorers
    making the denominator 0) yield NULL w/chi2/p.
    """
    d38 = "decimal(38,0)"
    v = F.col(value_col).cast("double")
    q = F.floor(v * F.lit(quantum)).cast("bigint")
    base = df.where(
        F.col(item_col).isNotNull()
        & F.col(scorer_col).isNotNull()
        & v.isNotNull()
    ).select(
        F.col(item_col).alias("_it"),
        F.col(scorer_col).alias("_sc"),
        q.alias("_v"),
    )
    m_count = base.groupBy("_sc").agg(F.count(F.lit(1)).alias("_dummy")).count()
    # complete-design filter: keep items scored by every scorer
    complete = (
        base.groupBy("_it")
        .agg(F.count_distinct("_sc").alias("_ns"))
        .where(F.col("_ns") == m_count)
        .select("_it")
    )
    kept = base.join(complete, "_it")
    cells = kept.groupBy("_sc", "_v").agg(
        F.count(F.lit(1)).cast("bigint").alias("_t")
    )
    from pyspark.sql import Window

    wsc = Window.partitionBy("_sc").orderBy("_v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = cells.withColumn(
        "_cum", F.coalesce(F.sum("_t").over(wsc), F.lit(0)).cast("bigint")
    ).withColumn("_dr", (2 * F.col("_cum") + F.col("_t") + 1).cast("bigint"))
    per_item = (
        kept.join(ranked.select("_sc", "_v", "_dr"), ["_sc", "_v"])
        .groupBy("_it")
        .agg(F.sum("_dr").cast(d38).alias("_r2"))
    )
    ties = cells.groupBy("_sc").agg(
        F.sum(
            (F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")).cast(d38)
        ).alias("_tj")
    )
    agg = per_item.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(F.expr("CAST(_r2 * _r2 AS decimal(38,0))")).alias("_sr2"),
    ).crossJoin(
        F.broadcast(
            ties.agg(F.coalesce(F.sum("_tj"), F.lit(0).cast(d38)).alias("_T"))
        )
    )
    m = int(m_count)
    n = F.col("n_items").cast("double")
    md = F.lit(float(m))
    num = F.lit(3.0) * F.col("_sr2").cast("double") - F.lit(3.0) * (
        md * md
    ) * n * (n + 1) * (n + 1)
    den = md * md * n * (n * n - 1) - md * F.col("_T").cast("double")
    ok = (F.col("n_items") > 2) & (F.lit(m) > 1) & (den > 0)
    wstat = F.when(ok, num / den)
    chi2 = md * (n - 1) * wstat
    dof = (F.col("n_items") - 1).cast("bigint")
    dofd = dof.cast("double")
    zwh = F.when(
        ok,
        (F.cbrt(chi2 / dofd) - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dofd)))
        / F.sqrt(F.lit(2.0) / (F.lit(9.0) * dofd)),
    )
    half_p = _p_two_sided(zwh) / F.lit(2.0)
    p = F.when(ok, F.when(zwh >= 0, half_p).otherwise(F.lit(1.0) - half_p))
    return agg.select(
        "n_items",
        F.lit(m).cast("bigint").alias("n_scorers"),
        F.round(wstat, round_to).alias("w"),
        F.round(chi2, round_to).alias("chi2"),
        dof.alias("dof"),
        F.round(p, round_to).alias("p"),
        F.coalesce(p < 0.05, F.lit(False)).alias("significant"),
    )


def mann_kendall(
    df: DataFrame,
    x: str,
    y: str,
    group_cols: tuple[str, ...] = (),
    x_quantum: int = 1_000_000,
    y_quantum: int = 1_000_000,
    z_crit_milli: int = 1960,
    round_to: int = 6,
) -> DataFrame:
    """Per-group Mann–Kendall trend test (Mann 1945; Kendall 1975) —
    the SIGNIFICANCE verdict for :func:`theil_sen_trend`'s slope (the
    classic pairing: Sen's slope says how steep, MK says whether it's
    real): S = Σ_{i<j} sgn(x_j−x_i)·sgn(y_j−y_i) over the series,
    tested against the tie-corrected null variance

        Var(S) = [n(n−1)(2n+5) − Σ_x t(t−1)(2t+5) − Σ_y u(u−1)(2u+5)]/18
               + [Σ_x t(t−1)(t−2)·Σ_y u(u−1)(u−2)] / (9n(n−1)(n−2))
               + [Σ_x t(t−1)·Σ_y u(u−1)] / (2n(n−1))

    (Kendall 1975 §4 — the FULL both-margins form, so tied timestamps
    and tied values are both handled, not just the hydrology-textbook
    value-tie case) with the continuity-corrected z = (S∓1)/√Var and
    the shared A&S two-sided p. One row per group: ``(*group_cols, n,
    s, var_s, z, p, trend)`` with trend ∈ increasing/decreasing/
    no_trend by the integer-milli z compare.

    Machinery: the :func:`kendall_tau` cell contract — observations
    collapse onto the quantized (x, y) CELL table, S comes from the
    cell-pair join as exact DECIMAL(38,0) integers, tie sums from the
    marginal tables; the variance is then a fixed three-term double
    chain over exact integers (each division IEEE-exact). The pair join
    is O(cells²) per group — bounded by the quantized grid, not the
    row count (the disclosed Spearman/τ scale contract). n < 2 or an
    all-tied margin yields NULL z/p and trend = no_trend, never div/0.

    Reference scope note: eliassona/xmlschemavalidator has no dataset
    layer (core.clj:263-285); north-rule analyzer completing the trend
    family (ols_trend → theil_sen_trend → THIS verdict).
    """
    base = df.where(
        F.col(x).isNotNull() & F.col(y).isNotNull()
    ).select(
        *group_cols,
        F.floor(F.col(x).cast("double") * F.lit(x_quantum))
        .cast("bigint")
        .alias("_qx"),
        F.floor(F.col(y).cast("double") * F.lit(y_quantum))
        .cast("bigint")
        .alias("_qy"),
    )
    cell = base.groupBy(*group_cols, "_qx", "_qy").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_c")
    )
    one = F.lit(1).cast("decimal(38,0)")
    two = F.lit(2).cast("decimal(38,0)")
    five = F.lit(5).cast("decimal(38,0)")

    def tie_sums(col_name: str, prefix: str) -> DataFrame:
        t = F.col("_t")
        marg = cell.groupBy(*group_cols, col_name).agg(
            F.sum("_c").alias("_t")
        )
        return marg.groupBy(*group_cols).agg(
            F.sum(t * (t - one)).alias(f"_{prefix}1"),
            F.sum(t * (t - one) * (two * t + five)).alias(f"_{prefix}2"),
            F.sum(t * (t - one) * (t - two)).alias(f"_{prefix}3"),
        )
    tx = tie_sums("_qx", "x")
    ty = tie_sums("_qy", "y")
    nrow = cell.groupBy(*group_cols).agg(F.sum("_c").alias("_n"))
    c1 = cell.select(
        *[F.col(c).alias(f"_g{i}") for i, c in enumerate(group_cols)],
        F.col("_qx").alias("_x1"),
        F.col("_qy").alias("_y1"),
        F.col("_c").alias("_c1"),
    )
    c2 = cell.select(
        *[F.col(c).alias(f"_h{i}") for i, c in enumerate(group_cols)],
        F.col("_qx").alias("_x2"),
        F.col("_qy").alias("_y2"),
        F.col("_c").alias("_c2"),
    )
    cond = F.col("_x1") < F.col("_x2")
    for i in range(len(group_cols)):
        cond = cond & (F.col(f"_g{i}") == F.col(f"_h{i}"))
    zero = F.lit(0).cast("decimal(38,0)")
    sd = (
        c1.join(c2, cond)
        .groupBy(*[F.col(f"_g{i}").alias(c) for i, c in enumerate(group_cols)])
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_y1") < F.col("_y2"), F.col("_c1") * F.col("_c2")
                    ).otherwise(zero)
                ),
                zero,
            ).alias("_conc"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("_y1") > F.col("_y2"), F.col("_c1") * F.col("_c2")
                    ).otherwise(zero)
                ),
                zero,
            ).alias("_disc"),
        )
    )
    joined = nrow.join(tx, list(group_cols)) if group_cols else nrow.crossJoin(tx)
    joined = joined.join(ty, list(group_cols)) if group_cols else joined.crossJoin(ty)
    if group_cols:
        joined = joined.join(sd, list(group_cols), "left")
    else:
        joined = joined.crossJoin(sd)
    n = F.col("_n")
    nd = n.cast("double")
    s_col = (
        F.coalesce(F.col("_conc"), zero) - F.coalesce(F.col("_disc"), zero)
    )
    core = (
        (n * (n - one) * (two * n + five) - F.col("_x2") - F.col("_y2"))
        .cast("double")
        / F.lit(18.0)
    )
    term2 = F.when(
        n > 2,
        (F.col("_x3") * F.col("_y3")).cast("double")
        / (F.lit(9.0) * nd * (nd - 1.0) * (nd - 2.0)),
    ).otherwise(F.lit(0.0))
    term3 = F.when(
        n > 1,
        (F.col("_x1") * F.col("_y1")).cast("double")
        / (F.lit(2.0) * nd * (nd - 1.0)),
    ).otherwise(F.lit(0.0))
    var = core + term2 + term3
    sdbl = s_col.cast("double")
    z = F.when(
        (n >= 2) & (var > 0),
        F.when(s_col > 0, (sdbl - 1.0) / F.sqrt(var))
        .when(s_col < 0, (sdbl + 1.0) / F.sqrt(var))
        .otherwise(F.lit(0.0)),
    )
    sig = F.coalesce(F.abs(z) * 1000 > F.lit(float(z_crit_milli)), F.lit(False))
    return joined.select(
        *group_cols,
        n.cast("bigint").alias("n"),
        s_col.cast("bigint").alias("s"),
        F.round(var, round_to).alias("var_s"),
        F.round(z, round_to).alias("z"),
        F.round(F.when(z.isNotNull(), _p_two_sided(F.abs(z))), round_to).alias(
            "p"
        ),
        F.when(~sig, F.lit("no_trend"))
        .when(s_col > 0, F.lit("increasing"))
        .otherwise(F.lit("decreasing"))
        .alias("trend"),
    )


def mann_kendall_oracle_sql(
    from_sql: str,
    group_sql: str | None = None,
    x_quantum: int = 1_000_000,
    y_quantum: int = 1_000_000,
    z_crit_milli: int = 1960,
    round_to: int = 6,
) -> str:
    """DuckDB replay of :func:`mann_kendall`; ``from_sql`` must yield
    ``x``, ``y`` and (when grouped) a ``grp`` column named by
    ``group_sql``. Same cells, same exact tie sums, same fixed
    three-term variance chain."""
    gsel = f"{group_sql}, " if group_sql else ""
    gby = f"GROUP BY {group_sql}" if group_sql else ""
    gjoin = (
        f"AND a.{group_sql} = b.{group_sql}" if group_sql else ""
    )
    gon = f"USING ({group_sql})" if group_sql else "ON TRUE"
    z = (
        "(CASE WHEN n >= 2 AND var_s > 0 THEN"
        " CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt(var_s)"
        " WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(var_s)"
        " ELSE 0.0 END END)"
    )
    return f"""WITH src AS ({from_sql}),
cells AS (SELECT {gsel}
    CAST(floor(CAST(x AS DOUBLE) * {x_quantum}) AS BIGINT) AS qx,
    CAST(floor(CAST(y AS DOUBLE) * {y_quantum}) AS BIGINT) AS qy,
    CAST(count(*) AS DECIMAL(38,0)) AS c
  FROM src WHERE x IS NOT NULL AND y IS NOT NULL
  GROUP BY {gsel} qx, qy),
nrow AS (SELECT {gsel} CAST(sum(c) AS DECIMAL(38,0)) AS n FROM cells {gby}),
tx AS (SELECT {gsel} CAST(sum(t*(t-1)) AS DECIMAL(38,0)) AS x1,
         CAST(sum(t*(t-1)*(2*t+5)) AS DECIMAL(38,0)) AS x2,
         CAST(sum(t*(t-1)*(t-2)) AS DECIMAL(38,0)) AS x3
  FROM (SELECT {gsel} qx, CAST(sum(c) AS DECIMAL(38,0)) AS t FROM cells
        GROUP BY {gsel} qx) {gby}),
ty AS (SELECT {gsel} CAST(sum(t*(t-1)) AS DECIMAL(38,0)) AS y1,
         CAST(sum(t*(t-1)*(2*t+5)) AS DECIMAL(38,0)) AS y2,
         CAST(sum(t*(t-1)*(t-2)) AS DECIMAL(38,0)) AS y3
  FROM (SELECT {gsel} qy, CAST(sum(c) AS DECIMAL(38,0)) AS t FROM cells
        GROUP BY {gsel} qy) {gby}),
sd AS (SELECT {('a.' + group_sql + ' AS ' + group_sql + ',') if group_sql else ''}
    CAST(coalesce(sum(CASE WHEN a.qy < b.qy THEN a.c * b.c ELSE 0 END), 0)
         AS DECIMAL(38,0)) AS conc,
    CAST(coalesce(sum(CASE WHEN a.qy > b.qy THEN a.c * b.c ELSE 0 END), 0)
         AS DECIMAL(38,0)) AS disc
  FROM cells a JOIN cells b ON a.qx < b.qx {gjoin}
  {('GROUP BY a.' + group_sql) if group_sql else ''}),
agg AS (SELECT {('nrow.' + group_sql + ', ') if group_sql else ''}nrow.n,
    coalesce(sd.conc, 0) - coalesce(sd.disc, 0) AS s,
    (CAST(nrow.n * (nrow.n - 1) * (2 * nrow.n + 5) - tx.x2 - ty.y2 AS DOUBLE)
     / 18.0
     + (CASE WHEN nrow.n > 2 THEN CAST(tx.x3 * ty.y3 AS DOUBLE)
        / (9.0 * CAST(nrow.n AS DOUBLE) * (CAST(nrow.n AS DOUBLE) - 1.0)
           * (CAST(nrow.n AS DOUBLE) - 2.0)) ELSE 0.0 END)
     + (CASE WHEN nrow.n > 1 THEN CAST(tx.x1 * ty.y1 AS DOUBLE)
        / (2.0 * CAST(nrow.n AS DOUBLE) * (CAST(nrow.n AS DOUBLE) - 1.0))
        ELSE 0.0 END)) AS var_s
  FROM nrow JOIN tx {gon} JOIN ty {gon}
  LEFT JOIN sd {gon})
SELECT {group_sql + ', ' if group_sql else ''}
  CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s,
  round(var_s, {round_to}) AS var_s,
  round({z}, {round_to}) AS z,
  round(CASE WHEN {z} IS NOT NULL THEN {_p_two_sided_sql(f'abs({z})')} END,
      {round_to}) AS p,
  CASE WHEN NOT coalesce(abs({z}) * 1000 > {z_crit_milli}, FALSE)
       THEN 'no_trend'
       WHEN s > 0 THEN 'increasing' ELSE 'decreasing' END AS trend
FROM agg"""


def brown_forsythe(
    df: DataFrame,
    value_col: str,
    group_col: str,
    quantum: int = 1_000_000,
    round_to: int = 6,
) -> DataFrame:
    """Brown–Forsythe variance-homogeneity test (Brown & Forsythe 1974
    — Levene's test with the MEDIAN center, the robust default): the
    one-way ANOVA F computed on the absolute deviations from each
    group's median, ``z = |x − median_g|``. Answers the question every
    variance-sensitive verdict silently assumes away: "do these cohorts
    even have comparable spread" — the precondition for anova_f /
    cohens_d / the pooled-variance experiment family, and a
    variance-DRIFT analyzer in its own right (same center, fatter
    spread = the quality-score regression a mean-shift test misses).
    ONE row ``(n, n_groups, f, df_between, df_within)``; compare f
    against the F(k−1, n−k) critical value of your level (the anova_f
    convention).

    Exactness: values quantize to integer ``quantum``-ths; each group's
    median is the rank-selected LOWER median over the deterministic
    (value, arrival-free) quantized order — an actual element, never an
    interpolation (the theil_sen/trimmed_mean scheme); z is then an
    exact nonnegative INTEGER, and the F statistic reuses the anova_f
    chain over exact DECIMAL(38,0) sums of z and z². Zero
    within-variance (all groups internally constant) → NULL f.

    Scale shape: one per-group sort window for the median (keyed by the
    group — the bounded-cohort contract of the experiment family), one
    broadcast of the ≤n_groups median table, one partial-agg pass for
    the sums. NULL values/groups excluded.

    Reference scope note: eliassona/xmlschemavalidator has no dataset
    layer (core.clj:263-285); north-rule analyzer guarding the
    variance-pooling family.
    """
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull() & F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("_g"),
        F.floor(v * F.lit(quantum)).cast("bigint").alias("_q"),
    )
    w = Window.partitionBy("_g").orderBy("_q")
    ranked = base.select(
        "_g",
        "_q",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("_g")).alias("_gn"),
    )
    med = ranked.where(
        F.col("_rn") == F.floor((F.col("_gn") + 1) / 2)  # LOWER median rank
    ).select("_g", F.col("_q").alias("_med"))
    z = base.join(F.broadcast(med), "_g").select(
        "_g", F.abs(F.col("_q") - F.col("_med")).cast("decimal(38,0)").alias("_z")
    )
    per = z.groupBy("_g").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("_z").alias("_s"),
        F.sum(F.col("_z") * F.col("_z")).alias("_ss"),
    )
    agg = per.agg(
        F.sum("_n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(
            F.col("_s").cast("double") * F.col("_s").cast("double") / F.col("_n")
        ).alias("_sg2"),
        F.sum("_s").alias("_st"),
        F.sum("_ss").alias("_sst"),
    )
    n = F.col("n").cast("double")
    k = F.col("n_groups").cast("double")
    ssb = F.col("_sg2") - F.col("_st").cast("double") * F.col("_st").cast(
        "double"
    ) / n
    ssw = F.col("_sst").cast("double") - F.col("_sg2")
    ok = (F.col("n_groups") >= 2) & (n > k)
    f = F.when(ok & (ssw > 0), (ssb / (k - F.lit(1.0))) / (ssw / (n - k)))
    return agg.select(
        "n",
        "n_groups",
        F.round(f, round_to).alias("f"),
        (F.col("n_groups") - 1).cast("int").alias("df_between"),
        (F.col("n") - F.col("n_groups")).cast("bigint").alias("df_within"),
    )


def brown_forsythe_oracle_sql(
    from_sql: str,
    quantum: int = 1_000_000,
    round_to: int = 6,
) -> str:
    """DuckDB replay of :func:`brown_forsythe`; ``from_sql`` must yield
    ``grp`` and ``val``. Same lower medians, same integer z, same
    anova_f double chain."""
    return f"""WITH src AS ({from_sql}),
b AS (SELECT grp AS g,
        CAST(floor(CAST(val AS DOUBLE) * {quantum}) AS BIGINT) AS q
      FROM src WHERE val IS NOT NULL AND grp IS NOT NULL),
rk AS (SELECT g, q, row_number() OVER (PARTITION BY g ORDER BY q) AS rn,
         count(*) OVER (PARTITION BY g) AS gn FROM b),
med AS (SELECT g, q AS m FROM rk WHERE rn = (gn + 1) // 2),
z AS (SELECT b.g, CAST(abs(b.q - med.m) AS DECIMAL(38,0)) AS z
      FROM b JOIN med USING (g)),
per AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(z) AS DECIMAL(38,0)) AS s,
          CAST(sum(z * z) AS DECIMAL(38,0)) AS ss
        FROM z GROUP BY g),
agg AS (SELECT CAST(sum(n) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS k,
          sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS sg2,
          CAST(sum(s) AS DOUBLE) AS st,
          CAST(sum(ss) AS DOUBLE) AS sst
        FROM per)
SELECT n, k AS n_groups,
  round(CASE WHEN k >= 2 AND n > k
          AND sst - sg2 > 0 THEN
        ((sg2 - st * st / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))
        / ((sst - sg2) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) END,
      {round_to}) AS f,
  CAST(k - 1 AS INT) AS df_between,
  CAST(n - k AS BIGINT) AS df_within
FROM agg"""


def cliffs_delta(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    quantum: int = 1_000_000,
    round_to: int = 6,
) -> DataFrame:
    """Cliff's delta ordinal effect size (Cliff 1993) between two
    cohorts — the nonparametric sibling of :func:`cohens_d`:
    δ = P(a > b) − P(a < b), reading directly as a dominance
    probability difference with no normality or equal-variance bet
    (the effect-size companion to the Mann–Whitney TEST, which says
    significant-or-not but not how big). ONE row ``(n_a, n_b, wins,
    losses, ties, delta, magnitude)`` with Romano et al. 2006's
    magnitude ladder (negligible < .147 ≤ small < .33 ≤ medium < .474
    ≤ large) decided by CROSS-MULTIPLIED integer compares — no float
    threshold.

    Machinery: both cohorts quantize onto the shared value grid (the
    kendall_tau cell contract); wins = Σ over a-cells of
    cnt_a·(cumulative b below), losses symmetrically, ties the matched
    cells — exact DECIMAL(38,0) products via one bounded window over
    the DISTINCT grid and one join, never an n_a×n_b pair walk. δ is
    ONE division. Either cohort empty → NULL delta, magnitude
    'undefined'.
    """
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    base = df.where(v.isNotNull() & g.isNotNull() & g.isin([group_a, group_b])).select(
        F.floor(v * F.lit(quantum)).cast("bigint").alias("_q"),
        F.when(g == group_a, 1).otherwise(0).alias("_a"),
    )
    cell = base.groupBy("_q").agg(
        F.sum("_a").cast("decimal(38,0)").alias("_ca"),
        F.sum(1 - F.col("_a")).cast("decimal(38,0)").alias("_cb"),
    )
    w = Window.orderBy("_q").rowsBetween(Window.unboundedPreceding, -1)
    zero = F.lit(0).cast("decimal(38,0)")
    cum = cell.select(
        "_q",
        "_ca",
        "_cb",
        F.coalesce(F.sum("_cb").over(w), zero).alias("_b_below"),
    )
    tot = cell.agg(
        F.coalesce(F.sum("_ca"), zero).alias("_na"),
        F.coalesce(F.sum("_cb"), zero).alias("_nb"),
    )
    agg = cum.agg(
        F.coalesce(F.sum(F.col("_ca") * F.col("_b_below")), zero).alias("_wins"),
        F.coalesce(F.sum(F.col("_ca") * F.col("_cb")), zero).alias("_ties"),
    ).crossJoin(F.broadcast(tot))
    # losses = n_a·n_b − wins − ties (exact identity on the grid)
    losses = (
        F.col("_na") * F.col("_nb") - F.col("_wins") - F.col("_ties")
    )
    den = F.col("_na") * F.col("_nb")
    num = F.col("_wins") - losses  # DECIMAL, signed
    ok = (F.col("_na") > 0) & (F.col("_nb") > 0)
    absnum = F.abs(num)

    def at_least(milli: int):
        return absnum * 1000 >= den * milli

    return agg.select(
        F.col("_na").cast("bigint").alias("n_a"),
        F.col("_nb").cast("bigint").alias("n_b"),
        F.col("_wins").cast("bigint").alias("wins"),
        losses.cast("bigint").alias("losses"),
        F.col("_ties").cast("bigint").alias("ties"),
        F.round(
            F.when(ok, num.cast("double") / den.cast("double")), round_to
        ).alias("delta"),
        F.when(~ok, F.lit("undefined"))
        .when(at_least(474), F.lit("large"))
        .when(at_least(330), F.lit("medium"))
        .when(at_least(147), F.lit("small"))
        .otherwise(F.lit("negligible"))
        .alias("magnitude"),
    )


def cliffs_delta_oracle_sql(
    from_sql: str,
    group_a: str,
    group_b: str,
    quantum: int = 1_000_000,
    round_to: int = 6,
) -> str:
    """DuckDB replay of :func:`cliffs_delta`; ``from_sql`` must yield
    ``grp`` and ``val``. Same grid, same DECIMAL products, same
    cross-multiplied ladder."""
    return f"""WITH src AS ({from_sql}),
b AS (SELECT CAST(floor(CAST(val AS DOUBLE) * {quantum}) AS BIGINT) AS q,
        CASE WHEN grp = '{group_a}' THEN 1 ELSE 0 END AS a
      FROM src WHERE val IS NOT NULL AND grp IN ('{group_a}', '{group_b}')),
cell AS (SELECT q, CAST(sum(a) AS DECIMAL(38,0)) AS ca,
           CAST(sum(1 - a) AS DECIMAL(38,0)) AS cb
         FROM b GROUP BY q),
cum AS (SELECT q, ca, cb,
    coalesce(CAST(sum(cb) OVER (ORDER BY q
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DECIMAL(38,0)),
        CAST(0 AS DECIMAL(38,0))) AS b_below
  FROM cell),
tot AS (SELECT CAST(coalesce(sum(ca), 0) AS DECIMAL(38,0)) AS na,
          CAST(coalesce(sum(cb), 0) AS DECIMAL(38,0)) AS nb FROM cell),
agg AS (SELECT
    CAST((SELECT coalesce(sum(ca * b_below), 0) FROM cum)
         AS DECIMAL(38,0)) AS wins,
    CAST((SELECT coalesce(sum(ca * cb), 0) FROM cum)
         AS DECIMAL(38,0)) AS ties,
    tot.na, tot.nb
  FROM tot),
fin AS (SELECT na, nb, wins, ties, na * nb - wins - ties AS losses,
          wins - (na * nb - wins - ties) AS num, na * nb AS den
        FROM agg)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
  CAST(wins AS BIGINT) AS wins, CAST(losses AS BIGINT) AS losses,
  CAST(ties AS BIGINT) AS ties,
  round(CASE WHEN na > 0 AND nb > 0 THEN CAST(num AS DOUBLE)
        / CAST(den AS DOUBLE) END, {round_to}) AS delta,
  CASE WHEN NOT (na > 0 AND nb > 0) THEN 'undefined'
       WHEN abs(num) * 1000 >= den * 474 THEN 'large'
       WHEN abs(num) * 1000 >= den * 330 THEN 'medium'
       WHEN abs(num) * 1000 >= den * 147 THEN 'small'
       ELSE 'negligible' END AS magnitude
FROM fin"""


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
    quantum: int = 1_000_000,
    round_to: int = 6,
) -> DataFrame:
    """Friedman test (Friedman 1937) — the BLOCKED rank ANOVA
    completing the nonparametric pair: Kruskal–Wallis compares
    independent cohorts, Friedman compares k treatments measured on
    the SAME n blocks (the scorer-per-doc / config-per-benchmark
    shape), where between-block variation — which swamps an unpaired
    test — is ranked away inside each block. ONE row ``(n_blocks,
    n_treatments, chi2, dof, p, significant)`` with the tie-corrected
    statistic

        χ²_F = [12·Σ_j R_j² /(nk(k+1)) − 3n(k+1)] / C,
        C = 1 − Σ_blocks Σ_ties (t³−t) / (n·k·(k²−1))

    df = k−1, p via the Wilson–Hilferty chi² tail (the Woolf device),
    ``significant`` at 5% by p < 0.05 on the rounded value.

    Exactness: values quantize, within-block ranks are average ranks
    carried as exact integer DOUBLED ranks (the wilcoxon device), so
    every R_j is an exact integer in half-units and Σ R_j² an exact
    DECIMAL; the tie term is an exact integer sum; the statistic is a
    fixed double chain. COMPLETE-design contract (every block holds
    every treatment exactly once — blocks violating it are EXCLUDED
    and counted via n_blocks vs the input); k < 2 or n = 0 → NULL.

    Scale shape: one (block)-keyed rank window + two partial-agg
    groupBys — blocks × treatments rows, never corpus².
    """
    b, t = F.col(block_col), F.col(treatment_col)
    v = F.col(value_col).cast("double")
    base = df.where(b.isNotNull() & t.isNotNull() & v.isNotNull()).select(
        b.alias("_b"),
        t.alias("_t"),
        F.floor(v * F.lit(quantum)).cast("bigint").alias("_q"),
    )
    # complete-design gate: keep blocks holding every treatment once
    k_tot = base.select("_t").distinct().count()
    # two stacked groupBys, not count+countDistinct in one agg (whose
    # mixed plan is an Expand over the input — the checks/fd.py device)
    ok_blocks = (
        base.groupBy("_b", "_t")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("_b")
        .agg(
            F.sum("_c").alias("_n"),
            F.count(F.lit(1)).alias("_kd"),
        )
        .where((F.col("_n") == k_tot) & (F.col("_kd") == k_tot))
        .select("_b")
    )
    kept = base.join(F.broadcast(ok_blocks), "_b")
    w = Window.partitionBy("_b").orderBy("_q")
    # average rank in DOUBLED units: 2·avg_rank = rank_min + rank_max
    # over the tie run = (row_number bounds) — use rank() and count of
    # equal values: doubled = 2·rank + (ties−1)
    ties_in_block = Window.partitionBy("_b", "_q")
    ranked = kept.select(
        "_b",
        "_t",
        "_q",
        (
            F.rank().over(w) * 2
            + F.count(F.lit(1)).over(ties_in_block)
            - 1
        )
        .cast("bigint")
        .alias("_r2"),  # doubled average rank
    )
    per_t = ranked.groupBy("_t").agg(
        F.sum("_r2").cast("decimal(38,0)").alias("_R2")
    )
    tie_terms = (
        kept.groupBy("_b", "_q")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_tt"))
        .agg(
            F.coalesce(
                F.sum(F.col("_tt") * F.col("_tt") * F.col("_tt") - F.col("_tt")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("_T")
        )
    )
    nb = ok_blocks.agg(F.count(F.lit(1)).cast("bigint").alias("n_blocks"))
    sums = per_t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_treatments"),
        F.coalesce(
            F.sum(F.col("_R2") * F.col("_R2")), F.lit(0).cast("decimal(38,0)")
        ).alias("_SR2"),  # Σ (2R_j)² = 4·Σ R_j²
    )
    agg = nb.crossJoin(F.broadcast(sums)).crossJoin(F.broadcast(tie_terms))
    n = F.col("n_blocks").cast("double")
    k = F.col("n_treatments").cast("double")
    sr2 = F.col("_SR2").cast("double") / F.lit(4.0)  # Σ R_j² exact/4
    raw = F.lit(12.0) * sr2 / (n * k * (k + 1.0)) - F.lit(3.0) * n * (
        k + 1.0
    )
    corr = F.lit(1.0) - F.col("_T").cast("double") / (
        n * k * (k * k - 1.0)
    )
    ok = (F.col("n_blocks") > 0) & (F.col("n_treatments") >= 2) & (corr > 0)
    chi2 = F.when(ok, raw / corr)
    dof = (F.col("n_treatments") - 1).cast("bigint")
    dofd = dof.cast("double")
    zwh = F.when(
        ok,
        (
            F.cbrt(F.greatest(chi2, F.lit(0.0)) / dofd)
            - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dofd))
        )
        / F.sqrt(F.lit(2.0) / (F.lit(9.0) * dofd)),
    )
    half_p = _p_two_sided(zwh) / F.lit(2.0)
    p = F.when(ok, F.when(zwh >= 0, half_p).otherwise(F.lit(1.0) - half_p))
    return agg.select(
        "n_blocks",
        "n_treatments",
        F.round(chi2, round_to).alias("chi2"),
        F.when(ok, dof).alias("dof"),
        F.round(p, round_to).alias("p"),
        F.coalesce(F.round(p, round_to) < 0.05, F.lit(False)).alias(
            "significant"
        ),
    )


def friedman_oracle_sql(
    from_sql: str,
    quantum: int = 1_000_000,
    round_to: int = 6,
) -> str:
    """DuckDB replay of :func:`friedman_test`; ``from_sql`` must yield
    ``blk``, ``trt``, ``val``. Same doubled ranks, same tie term,
    same Wilson–Hilferty tail."""
    chi2 = (
        "(CASE WHEN n_blocks > 0 AND n_treatments >= 2 AND corr > 0"
        " THEN raw / corr END)"
    )
    zwh = (
        f"(CASE WHEN {chi2} IS NOT NULL THEN"
        f" (cbrt(greatest({chi2}, 0.0) / CAST(n_treatments - 1 AS DOUBLE))"
        " - (1.0 - 2.0 / (9.0 * CAST(n_treatments - 1 AS DOUBLE))))"
        " / sqrt(2.0 / (9.0 * CAST(n_treatments - 1 AS DOUBLE))) END)"
    )
    half = f"({_p_two_sided_sql(zwh)} / 2.0)"
    p = (
        f"(CASE WHEN {zwh} IS NOT NULL THEN CASE WHEN {zwh} >= 0"
        f" THEN {half} ELSE 1.0 - {half} END END)"
    )
    return f"""WITH src AS ({from_sql}),
b AS (SELECT blk, trt,
        CAST(floor(CAST(val AS DOUBLE) * {quantum}) AS BIGINT) AS q
      FROM src WHERE blk IS NOT NULL AND trt IS NOT NULL
        AND val IS NOT NULL),
ktot AS (SELECT CAST(count(DISTINCT trt) AS BIGINT) AS k FROM b),
okb AS (SELECT blk FROM b, ktot GROUP BY blk, ktot.k
        HAVING count(*) = ktot.k AND count(DISTINCT trt) = ktot.k),
kept AS (SELECT b.* FROM b JOIN okb USING (blk)),
ranked AS (SELECT blk, trt, q,
    CAST(rank() OVER (PARTITION BY blk ORDER BY q) * 2
         + count(*) OVER (PARTITION BY blk, q) - 1 AS BIGINT) AS r2
  FROM kept),
per_t AS (SELECT trt, CAST(sum(r2) AS DECIMAL(38,0)) AS R2
          FROM ranked GROUP BY trt),
tiet AS (SELECT CAST(coalesce(sum(tt * tt * tt - tt), 0) AS DECIMAL(38,0))
           AS T
  FROM (SELECT CAST(count(*) AS DECIMAL(38,0)) AS tt FROM kept
        GROUP BY blk, q)),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks FROM okb),
sums AS (SELECT CAST(count(*) AS BIGINT) AS n_treatments,
    CAST(coalesce(sum(R2 * R2), 0) AS DECIMAL(38,0)) AS SR2 FROM per_t),
agg AS (SELECT nb.n_blocks, sums.n_treatments,
    12.0 * (CAST(sums.SR2 AS DOUBLE) / 4.0)
      / (CAST(nb.n_blocks AS DOUBLE) * CAST(sums.n_treatments AS DOUBLE)
         * (CAST(sums.n_treatments AS DOUBLE) + 1.0))
      - 3.0 * CAST(nb.n_blocks AS DOUBLE)
        * (CAST(sums.n_treatments AS DOUBLE) + 1.0) AS raw,
    1.0 - CAST(tiet.T AS DOUBLE)
      / (CAST(nb.n_blocks AS DOUBLE) * CAST(sums.n_treatments AS DOUBLE)
         * (CAST(sums.n_treatments AS DOUBLE)
            * CAST(sums.n_treatments AS DOUBLE) - 1.0)) AS corr
  FROM nb, sums, tiet)
SELECT n_blocks, n_treatments,
  round({chi2}, {round_to}) AS chi2,
  CASE WHEN {chi2} IS NOT NULL THEN CAST(n_treatments - 1 AS BIGINT) END
      AS dof,
  round({p}, {round_to}) AS p,
  coalesce(round({p}, {round_to}) < 0.05, FALSE) AS significant
FROM agg"""

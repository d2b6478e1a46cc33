"""Sequence/order data-quality checks: per-key monotonicity of a
timestamp along an ingestion order, and contiguity of a sequence-number
column.

The two classic event-log invariants: (1) "within a user, event time
never runs backwards along the log order" — violated by clock skew,
replayed batches, or a mis-merged backfill; (2) "line numbers per order
are 1..n with no gaps or duplicates" — violated by dropped or
double-delivered rows. Both emit results in the engine's standard
shapes (violation rows / per-key summaries) so they flow into the same
sinks as facet and uniqueness checks.

Scale shape: monotonicity is ONE window pass per key (running max over
the preceding frame — partial ordering state, no self-join);
gap checking is ONE two-level aggregate (distinct-collapse first, so a
duplicate-heavy key reaches the shuffle collapsed). Both shuffle once
on the key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def order_violations(
    df: DataFrame,
    key: str,
    ts: str,
    order_col: str,
    id_col: str,
    rule_id: str | None = None,
) -> DataFrame:
    """Rows whose `ts` is EARLIER than the maximum `ts` seen before them
    in `order_col` order within the same `key` — time ran backwards.
    Returns violation rows ``(id, rule_id, observed_value, key,
    prev_max_ts)`` where observed_value is the offending timestamp as an
    ISO string (the engine's violation-row convention).

    The running max (not lag alone) is what makes this the real
    invariant: after one late row, every subsequent in-order row would
    "recover" under a lag check while still being earlier than the
    watermark the stream had already advanced to.
    """
    if "_prev_max" in df.columns:
        raise ValueError(
            "order_violations: column '_prev_max' collides with an "
            "internal name; rename it first"
        )
    rid = rule_id or f"order_{ts}_by_{order_col}"
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max = F.max(ts).over(w)
    return (
        df.withColumn("_prev_max", prev_max)
        .where(F.col("_prev_max").isNotNull() & (F.col(ts) < F.col("_prev_max")))
        .select(
            F.col(id_col),
            F.lit(rid).alias("rule_id"),
            F.date_format(F.col(ts), "yyyy-MM-dd HH:mm:ss").alias("observed_value"),
            F.col(key),
            F.date_format(F.col("_prev_max"), "yyyy-MM-dd HH:mm:ss").alias(
                "prev_max_ts"
            ),
        )
    )


def sequence_gap_summary(df: DataFrame, key: str, seq_col: str) -> DataFrame:
    """Per-key contiguity summary of an integer sequence column:
    ``(key, n_rows, n_distinct, min_seq, max_seq, n_missing,
    n_duplicates)`` where ``n_missing = (max-min+1) - n_distinct`` and
    ``n_duplicates = n_rows - n_distinct``. A clean 1..n key shows
    zeros in both. NULL sequence values are excluded from the range
    math but counted in ``n_rows`` (a NULL line number is its own
    finding for the null-rate check).

    Two-level aggregate: ``groupBy(key, seq)`` collapses duplicates
    map-side before the per-key rollup — a key with a million duplicate
    rows reaches the shuffle as one row per distinct value.
    """
    pair = df.groupBy(
        F.col(key), F.col(seq_col).alias("_seq")
    ).agg(F.count(F.lit(1)).alias("_n"))
    # duplicates are counted over NON-NULL sequence values only: a NULL
    # line number is a null-rate finding, not a double delivery
    n_nonnull = F.sum(F.when(F.col("_seq").isNotNull(), F.col("_n")))
    return pair.groupBy(key).agg(
        F.sum("_n").cast("bigint").alias("n_rows"),
        F.count("_seq").cast("bigint").alias("n_distinct"),
        F.min("_seq").cast("bigint").alias("min_seq"),
        F.max("_seq").cast("bigint").alias("max_seq"),
        (
            (F.max("_seq") - F.min("_seq") + 1) - F.count("_seq")
        ).cast("bigint").alias("n_missing"),
        F.coalesce(n_nonnull - F.count("_seq"), F.lit(0))
        .cast("bigint")
        .alias("n_duplicates"),
    )


def sprt_monitor(
    df,
    order_col: str,
    outcome_col: str,
    p0_milli: int,
    p1_milli: int,
    alpha_milli: int = 50,
    beta_milli: int = 50,
    round_to: int = 6,
):
    """Wald's sequential probability ratio test (Wald 1945) over an
    ORDERED stream of boolean outcomes — the always-peeking monitor the
    fixed-n tests forbid: watch a pass/fail stream and stop the moment
    the evidence crosses a boundary, with guaranteed error rates α/β
    at ANY stopping time. H0: rate = p0, H1: rate = p1. ONE row
    ``(n, n_pass, decision, decided_at, llr, boundary_a, boundary_b)``
    with decision ∈ accept_h0 / accept_h1 / continue and ``decided_at``
    the EARLIEST crossing position (the monitor's alarm time — later
    wobbles don't un-ring it).

    Exactness: the per-outcome log-likelihood increments are TWO
    Python-computed integer micro literals (ln(p1/p0), ln((1−p1)/
    (1−p0)) — one code path computes them, both engines consume them),
    the LLR path is an integer cumulative sum over the order column,
    and Wald's boundaries ln((1−β)/α), ln(β/(1−α)) are integer micro
    literals too — every compare is exact BIGINT. The first crossing
    is a conditional min over the walk. One ordered window over the
    stream (the monitor's stream is a per-rule sequence, bounded by
    the monitoring horizon — the disclosed single-partition window of
    the order-check family; partition upstream per rule/segment).

    Duplicate order values would make the walk ambiguous — refused.
    NULL outcomes excluded before ordering (the stream the monitor
    actually saw).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    import math

    if not 0 < p0_milli < 1000 or not 0 < p1_milli < 1000:
        raise ValueError("sprt_monitor: p0_milli/p1_milli must be in (0,1000)")
    if p0_milli == p1_milli:
        raise ValueError("sprt_monitor: p0 and p1 must differ")
    p0, p1 = p0_milli / 1000.0, p1_milli / 1000.0
    a, b = alpha_milli / 1000.0, beta_milli / 1000.0
    inc_pass = round(math.log(p1 / p0) * 1_000_000)
    inc_fail = round(math.log((1 - p1) / (1 - p0)) * 1_000_000)
    upper = round(math.log((1 - b) / a) * 1_000_000)  # accept H1 at/above
    lower = round(math.log(b / (1 - a)) * 1_000_000)  # accept H0 at/below
    base = df.where(
        F.col(order_col).isNotNull() & F.col(outcome_col).isNotNull()
    ).select(
        F.col(order_col).alias("_t"),
        F.col(outcome_col).cast("boolean").cast("long").alias("_y"),
    )
    dup = (
        base.groupBy("_t").count().where(F.col("count") > 1).count()
    )
    if dup:
        raise ValueError(
            f"sprt_monitor: {dup} duplicate order value(s) — the walk "
            "order must be total; disambiguate the order column"
        )
    w = Window.orderBy("_t").rowsBetween(Window.unboundedPreceding, 0)
    walk = base.select(
        "_t",
        "_y",
        F.sum(
            F.when(F.col("_y") == 1, F.lit(inc_pass)).otherwise(
                F.lit(inc_fail)
            )
        )
        .over(w)
        .cast("bigint")
        .alias("_llr"),
    )
    agg = walk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(F.sum("_y"), F.lit(0)).cast("bigint").alias("n_pass"),
        F.min(F.when(F.col("_llr") >= upper, F.col("_t"))).alias("_hit_up"),
        F.min(F.when(F.col("_llr") <= lower, F.col("_t"))).alias("_hit_lo"),
    )
    # the final LLR is a pure function of the counts — no order-
    # dependent last() anywhere
    n_pass = F.col("n_pass")
    n_fail = F.col("n") - n_pass
    final_llr = n_pass * inc_pass + n_fail * inc_fail
    up_first = F.col("_hit_up").isNotNull() & (
        F.col("_hit_lo").isNull() | (F.col("_hit_up") <= F.col("_hit_lo"))
    )
    lo_first = F.col("_hit_lo").isNotNull() & (
        F.col("_hit_up").isNull() | (F.col("_hit_lo") < F.col("_hit_up"))
    )
    return agg.select(
        "n",
        "n_pass",
        F.when(up_first, F.lit("accept_h1"))
        .when(lo_first, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
        F.when(up_first, F.col("_hit_up"))
        .when(lo_first, F.col("_hit_lo"))
        .alias("decided_at"),
        F.round(final_llr.cast("double") / F.lit(1e6), round_to).alias("llr"),
        F.round(F.lit(upper / 1e6), round_to).alias("boundary_a"),
        F.round(F.lit(lower / 1e6), round_to).alias("boundary_b"),
    )


def sprt_oracle_sql(
    from_sql: str,
    p0_milli: int,
    p1_milli: int,
    alpha_milli: int = 50,
    beta_milli: int = 50,
    round_to: int = 6,
) -> str:
    """DuckDB replay of :func:`sprt_monitor`; ``from_sql`` must yield
    ``t`` and boolean ``y``. Same Python-computed integer micro
    literals, same cumulative walk."""
    import math

    p0, p1 = p0_milli / 1000.0, p1_milli / 1000.0
    a, b = alpha_milli / 1000.0, beta_milli / 1000.0
    inc_pass = round(math.log(p1 / p0) * 1_000_000)
    inc_fail = round(math.log((1 - p1) / (1 - p0)) * 1_000_000)
    upper = round(math.log((1 - b) / a) * 1_000_000)
    lower = round(math.log(b / (1 - a)) * 1_000_000)
    return f"""WITH src AS ({from_sql}),
base AS (SELECT t, CAST(CAST(y AS BOOLEAN) AS BIGINT) AS y FROM src
         WHERE t IS NOT NULL AND y IS NOT NULL),
walk AS (SELECT t, y,
    CAST(sum(CASE WHEN y = 1 THEN {inc_pass} ELSE {inc_fail} END)
         OVER (ORDER BY t) AS BIGINT) AS llr
  FROM base),
agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(coalesce(sum(y), 0) AS BIGINT) AS n_pass,
    min(CASE WHEN llr >= {upper} THEN t END) AS hit_up,
    min(CASE WHEN llr <= {lower} THEN t END) AS hit_lo
  FROM walk)
SELECT n, n_pass,
  CASE WHEN hit_up IS NOT NULL AND (hit_lo IS NULL OR hit_up <= hit_lo)
       THEN 'accept_h1'
       WHEN hit_lo IS NOT NULL AND (hit_up IS NULL OR hit_lo < hit_up)
       THEN 'accept_h0'
       ELSE 'continue' END AS decision,
  CASE WHEN hit_up IS NOT NULL AND (hit_lo IS NULL OR hit_up <= hit_lo)
       THEN hit_up
       WHEN hit_lo IS NOT NULL AND (hit_up IS NULL OR hit_lo < hit_up)
       THEN hit_lo END AS decided_at,
  round(CAST(n_pass * {inc_pass} + (n - n_pass) * {inc_fail} AS DOUBLE)
      / 1e6, {round_to}) AS llr,
  round({upper} / 1e6, {round_to}) AS boundary_a,
  round({lower} / 1e6, {round_to}) AS boundary_b
FROM agg"""


def durbin_watson(
    df,
    order_col: str,
    value_col: str,
    quantum: int = 1_000_000,
    round_to: int = 6,
):
    """Durbin–Watson serial-correlation statistic (Durbin & Watson
    1950) over an ordered series — the adjacency check under the trend
    family: ols_trend/theil_sen fit the line, DW asks whether the
    residual/metric sequence is independent (≈2), positively
    autocorrelated (→0: drifting level, the regime every control chart
    assumes away) or alternating (→4):

        DW = Σ_t (x_t − x_{t−1})² / Σ_t x_t²

    ONE row ``(n, dw, verdict)`` with verdict by the classic rough
    bands (<1 positive / >3 alternating / else none — stated as the
    screen, not the exact Durbin bounds, which depend on the design
    matrix). Exactness: values quantize to integer micro units, both
    sums are exact DECIMAL(38,0) over integer squares, DW is ONE
    division; the verdict compares cross-multiplied integers. One
    ordered window (the order-check family's disclosed single-stream
    window; partition upstream per series). n < 2 or an all-zero
    series → NULL dw.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = df.where(
        F.col(order_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(order_col).alias("_t"),
        F.floor(F.col(value_col).cast("double") * F.lit(quantum))
        .cast("bigint")
        .alias("_q"),
    )
    w = Window.orderBy("_t")
    lagged = base.select(
        "_q", F.lag("_q").over(w).alias("_prev")
    )
    d = (F.col("_q") - F.col("_prev")).cast("decimal(38,0)")
    q = F.col("_q").cast("decimal(38,0)")
    agg = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("_prev").isNotNull(), d * d)),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_num"),
        F.coalesce(F.sum(q * q), F.lit(0).cast("decimal(38,0)")).alias(
            "_den"
        ),
    )
    ok = (F.col("n") >= 2) & (F.col("_den") > 0)
    dw = F.when(
        ok, F.col("_num").cast("double") / F.col("_den").cast("double")
    )
    return agg.select(
        "n",
        F.round(dw, round_to).alias("dw"),
        F.when(~ok, F.lit(None).cast("string"))
        .when(F.col("_num") < F.col("_den"), F.lit("positive_autocorr"))
        .when(F.col("_num") > F.col("_den") * 3, F.lit("alternating"))
        .otherwise(F.lit("none"))
        .alias("verdict"),
    )


def durbin_watson_oracle_sql(
    from_sql: str, quantum: int = 1_000_000, round_to: int = 6
) -> str:
    """DuckDB replay of :func:`durbin_watson`; ``from_sql`` must yield
    ``t`` and ``val``."""
    return f"""WITH src AS ({from_sql}),
b AS (SELECT t, CAST(floor(CAST(val AS DOUBLE) * {quantum}) AS BIGINT) AS q
      FROM src WHERE t IS NOT NULL AND val IS NOT NULL),
lagged AS (SELECT q, lag(q) OVER (ORDER BY t) AS prev FROM b),
agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(coalesce(sum(CASE WHEN prev IS NOT NULL THEN
        CAST(q - prev AS DECIMAL(38,0)) * CAST(q - prev AS DECIMAL(38,0))
        END), 0) AS DECIMAL(38,0)) AS num,
    CAST(coalesce(sum(CAST(q AS DECIMAL(38,0)) * CAST(q AS DECIMAL(38,0))),
        0) AS DECIMAL(38,0)) AS den
  FROM lagged)
SELECT n,
  round(CASE WHEN n >= 2 AND den > 0 THEN CAST(num AS DOUBLE)
        / CAST(den AS DOUBLE) END, {round_to}) AS dw,
  CASE WHEN NOT (n >= 2 AND den > 0) THEN NULL
       WHEN num < den THEN 'positive_autocorr'
       WHEN num > den * 3 THEN 'alternating'
       ELSE 'none' END AS verdict
FROM agg"""


def runs_test(
    df,
    order_col: str,
    outcome_col: str,
    z_crit_milli: int = 1960,
    round_to: int = 6,
):
    """Wald–Wolfowitz runs test (1940) on an ordered boolean sequence —
    the RANDOMNESS check under the monitoring family: SPRT decides
    which rate, the runs test asks whether pass/fail outcomes are even
    EXCHANGEABLE (clustered failures → fewer runs than chance;
    alternation → more). ONE row
    ``(n, n_pos, n_neg, n_runs, expected_runs, z, p, nonrandom)``
    against E[R] = 2·n₁n₀/n + 1 and

        Var(R) = 2n₁n₀(2n₁n₀ − n) / (n²(n−1))

    with the shared A&S two-sided p. Exactness: the run count is an
    exact integer from one lag compare; E and Var are fixed double
    chains on exact integers; verdict by integer-milli z compare.
    Either class empty → NULL z (a constant sequence has exactly one
    run and nothing to test). Same disclosed single-stream window.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from xmlschemavalidator_spark.checks.stats import _p_two_sided

    base = df.where(
        F.col(order_col).isNotNull() & F.col(outcome_col).isNotNull()
    ).select(
        F.col(order_col).alias("_t"),
        F.col(outcome_col).cast("boolean").cast("long").alias("_y"),
    )
    w = Window.orderBy("_t")
    lagged = base.select(
        "_y", F.lag("_y").over(w).alias("_prev")
    )
    agg = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(F.sum("_y"), F.lit(0)).cast("bigint").alias("n_pos"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_prev").isNull()
                    | (F.col("_y") != F.col("_prev")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_runs"),
    )
    n = F.col("n").cast("double")
    n1 = F.col("n_pos").cast("double")
    n0 = (F.col("n") - F.col("n_pos")).cast("double")
    ok = (F.col("n_pos") > 0) & (F.col("n") - F.col("n_pos") > 0)
    er = 2.0 * n1 * n0 / n + 1.0
    vr = (
        2.0
        * n1
        * n0
        * (2.0 * n1 * n0 - n)
        / (n * n * (n - 1.0))
    )
    z = F.when(
        ok & (vr > 0), (F.col("n_runs").cast("double") - er) / F.sqrt(vr)
    )
    return agg.select(
        "n",
        "n_pos",
        (F.col("n") - F.col("n_pos")).cast("bigint").alias("n_neg"),
        "n_runs",
        F.round(F.when(ok, er), round_to).alias("expected_runs"),
        F.round(z, round_to).alias("z"),
        F.round(F.when(z.isNotNull(), _p_two_sided(F.abs(z))), round_to).alias(
            "p"
        ),
        F.coalesce(
            F.abs(z) * 1000 > F.lit(float(z_crit_milli)), F.lit(False)
        ).alias("nonrandom"),
    )


def runs_test_oracle_sql(
    from_sql: str, z_crit_milli: int = 1960, round_to: int = 6
) -> str:
    """DuckDB replay of :func:`runs_test`; ``from_sql`` must yield
    ``t`` and boolean ``y``."""
    from xmlschemavalidator_spark.checks.stats import _p_two_sided_sql

    er = "(2.0 * n1 * n0 / nn + 1.0)"
    vr = "(2.0 * n1 * n0 * (2.0 * n1 * n0 - nn) / (nn * nn * (nn - 1.0)))"
    z = (
        f"(CASE WHEN n_pos > 0 AND n - n_pos > 0 AND {vr} > 0 THEN"
        f" (CAST(n_runs AS DOUBLE) - {er}) / sqrt({vr}) END)"
    )
    return f"""WITH src AS ({from_sql}),
b AS (SELECT t, CAST(CAST(y AS BOOLEAN) AS BIGINT) AS y FROM src
      WHERE t IS NOT NULL AND y IS NOT NULL),
lagged AS (SELECT y, lag(y) OVER (ORDER BY t) AS prev FROM b),
agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(coalesce(sum(y), 0) AS BIGINT) AS n_pos,
    CAST(coalesce(sum(CASE WHEN prev IS NULL OR y <> prev THEN 1
        ELSE 0 END), 0) AS BIGINT) AS n_runs
  FROM lagged),
m AS (SELECT *, CAST(n AS DOUBLE) AS nn, CAST(n_pos AS DOUBLE) AS n1,
        CAST(n - n_pos AS DOUBLE) AS n0 FROM agg)
SELECT n, n_pos, CAST(n - n_pos AS BIGINT) AS n_neg, n_runs,
  round(CASE WHEN n_pos > 0 AND n - n_pos > 0 THEN {er} END,
      {round_to}) AS expected_runs,
  round({z}, {round_to}) AS z,
  round(CASE WHEN {z} IS NOT NULL THEN {_p_two_sided_sql(f'abs({z})')} END,
      {round_to}) AS p,
  coalesce(abs({z}) * 1000 > {z_crit_milli}, FALSE) AS nonrandom
FROM m"""

"""AMS F₂ / self-join-size sketch — the join-planning statistic.

F₂ = Σ_v f_v² (the second frequency moment) IS the self-equi-join size
of a column, and the sketch dot product estimates |A ⋈ B| — the one
number a join planner wants about an unbounded-cardinality key (user
ids, URLs, tokens) where an exact ``groupBy(value)`` would shuffle the
whole column. F₂ also reads as a skew gate: F₂/n is the expected hits
per probe, and F₂ ≫ n flags the hot keys that break a shuffle join
(checks/skew.py's question answered in fixed memory).

Form: the "fast AMS" / Count-Sketch variant (Alon, Matias & Szegedy
STOC'96 estimator; Thorup & Zhang SODA'04 bucketing; Charikar et al.
ICALP'02): ``rows`` independent hash rows, each value lands in ONE of
``counters`` signed counters per row — z_{ij} = Σ ±1 — so per-input
work is ``rows`` hashes, not rows×counters. Per row
F̂₂⁽ⁱ⁾ = Σ_j z_{ij}²; the verdict is the MEDIAN over rows.

The sketch IS a DataFrame ``(i, j, z)`` with at most rows×counters
cells: mergeable (union + groupBy-sum), persistable,
and — because sign and bucket come from the repo's one portable hash
recipe — bit-identically replayable in DuckDB, so the driver oracle is
exact, not a statistical bound.

Exactness: counters are BIGINT sums of ±1 (|z| ≤ n, safe);
squares/products go through DECIMAL(38,0); the median over the odd
``rows`` per-row square-sums is rank-selected deterministically (ties
by row index) — the per-row estimate IS Σ_j z², no normalization, so
the whole chain stays integer; only a composed est/exact ratio is ever
a double. Output casts to BIGINT assume F₂ < 9·10¹⁸ (true until one
key holds > 3·10⁹ copies — keep the DECIMAL upstream beyond that).

Reference scope note: eliassona/xmlschemavalidator has no dataset layer
(core.clj:263-285); north-rule sketch beside checks/hll.py and
tdigest.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xmlschemavalidator_spark.textops import PORTABLE_HASH64_SQL, portable_hash64

__all__ = [
    "ams_build",
    "ams_merge",
    "ams_f2_estimate",
    "ams_join_size_estimate",
    "self_join_size",
    "ams_build_sql",
    "ams_f2_estimate_sql",
]


def _check(rows: int, counters: int) -> None:
    if rows < 1 or rows % 2 == 0:
        raise ValueError(f"ams: rows must be odd ≥1 for a rank-exact median, got {rows}")
    if counters < 2:
        raise ValueError(f"ams: counters must be ≥2, got {counters}")


def ams_build(
    df: DataFrame, col: str, rows: int = 9, counters: int = 64
) -> DataFrame:
    """Sketch ``df[col]`` into the ``(i, j, z)`` cell table (≤
    rows×counters cells). One narrow projection (``rows`` portable
    hashes per input, row index spliced into the hash input), one
    explode, one map-side-combined groupBy whose shuffle carries
    (i, j, ±1) — never values. NULLs dropped (the hash-family
    convention)."""
    _check(rows, counters)
    v = F.col(col).cast("string")
    two_k = 2 * counters
    cells = df.where(v.isNotNull()).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        (
                            F.pmod(
                                portable_hash64(F.concat(F.lit(f"{i}:"), v)),
                                F.lit(two_k),
                            )
                        ).alias("m"),
                    )
                    for i in range(rows)
                ]
            )
        ).alias("_c")
    )
    m = F.col("_c.m")
    return (
        cells.select(
            F.col("_c.i").alias("i"),
            F.expr("_c.m div 2").alias("j"),
            (F.lit(1) - F.lit(2) * F.pmod(m, F.lit(2))).cast("long").alias("_s"),
        )
        .groupBy("i", "j")
        .agg(F.sum("_s").cast("bigint").alias("z"))
    )


def ams_build_sql(table: str, col: str, rows: int = 9, counters: int = 64) -> str:
    """DuckDB replay of :func:`ams_build` — same hash, same cells."""
    _check(rows, counters)
    two_k = 2 * counters
    arms = []
    for i in range(rows):
        inner = f"'{i}:' || CAST({col} AS VARCHAR)"
        h = PORTABLE_HASH64_SQL.format(x=inner)
        arms.append(
            f"SELECT {i} AS i, ({h} % {two_k}) AS m "
            f"FROM {table} WHERE {col} IS NOT NULL"
        )
    return (
        f"SELECT i, m // 2 AS j, CAST(sum(1 - 2 * (m % 2)) AS BIGINT) AS z "
        f"FROM ({' UNION ALL '.join(arms)}) GROUP BY 1, 2"
    )


def ams_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Point-wise sum of two sketches built with the same (rows,
    counters) — the mergeability that makes per-batch sketches fold."""
    return (
        a.unionByName(b)
        .groupBy("i", "j")
        .agg(F.sum("z").cast("bigint").alias("z"))
    )


def ams_f2_estimate(sketch: DataFrame) -> DataFrame:
    """ONE row ``(f2_estimate)``: per-row Σ_j z² in DECIMAL, then the
    rank-exact median over the (odd) row count — row count inferred
    from the sketch itself, ties broken by row index. Runs on ≤
    rows×counters cells."""
    per_row = sketch.groupBy("i").agg(
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z")).alias("_f2")
    )
    w = Window.orderBy(F.col("_f2"), F.col("i"))
    wa = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = per_row.select(
        "_f2",
        F.row_number().over(w).alias("_r"),
        F.count(F.lit(1)).over(wa).alias("_m"),
    )
    return ranked.where(
        F.col("_r") * 2 == F.col("_m") + 1
    ).select(F.col("_f2").cast("bigint").alias("f2_estimate"))


def ams_f2_estimate_sql(sketch_sql: str) -> str:
    return f"""WITH sk AS ({sketch_sql}),
       pr AS (SELECT i, sum(CAST(z AS DECIMAL(38,0)) * z) AS f2
              FROM sk GROUP BY i),
       rk AS (SELECT f2, row_number() OVER (ORDER BY f2, i) AS r,
                     count(*) OVER () AS m
              FROM pr)
       SELECT CAST(f2 AS BIGINT) AS f2_estimate FROM rk WHERE r * 2 = m + 1"""


def ams_join_size_estimate(sketch_a: DataFrame, sketch_b: DataFrame) -> DataFrame:
    """Equi-join size estimate |A ⋈ B| = Σ_v f_v·g_v from two sketches
    sharing the hash family (built by :func:`ams_build` with the same
    rows/counters — true by construction): per row Σ_j z_a·z_b, median
    over rows. ONE row ``(join_size_estimate)`` — the planner's number
    without touching either table again."""
    a = sketch_a.select("i", "j", F.col("z").alias("_za"))
    b = sketch_b.select("i", "j", F.col("z").alias("_zb"))
    # full outer: a cell touched by only one side contributes 0
    per_row = (
        a.join(b, ["i", "j"], "full_outer")
        .groupBy("i")
        .agg(
            F.sum(
                F.coalesce(F.col("_za"), F.lit(0)).cast("decimal(38,0)")
                * F.coalesce(F.col("_zb"), F.lit(0))
            ).alias("_d")
        )
    )
    w = Window.orderBy(F.col("_d"), F.col("i"))
    wa = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = per_row.select(
        "_d",
        F.row_number().over(w).alias("_r"),
        F.count(F.lit(1)).over(wa).alias("_m"),
    )
    return ranked.where(F.col("_r") * 2 == F.col("_m") + 1).select(
        F.col("_d").cast("bigint").alias("join_size_estimate")
    )


def self_join_size(df: DataFrame, col: str) -> DataFrame:
    """The exact twin: ONE row ``(n, n_distinct, f2, skew_ratio)`` from
    two stacked partial-aggregatable groupBys (the l-diversity fan-out
    device — no countDistinct/Expand). ``f2`` = Σf² = |self join|;
    ``skew_ratio`` = f2·10⁶ div n² is 10⁶× the collision probability
    (1/distinct when uniform — rises toward 10⁶ as one key dominates)."""
    per_value = (
        df.where(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_f"))
    )
    agg = per_value.agg(
        F.sum("_f").alias("_n"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum(F.col("_f") * F.col("_f")).alias("_f2"),
    )
    return agg.select(
        F.col("_n").cast("bigint").alias("n"),
        "n_distinct",
        F.col("_f2").cast("bigint").alias("f2"),
        F.expr("CAST((_f2 * 1000000) div (_n * _n) AS BIGINT)").alias("skew_ratio"),
    )

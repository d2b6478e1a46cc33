"""Privacy-risk audits: k-anonymity and distinct l-diversity.

A validation engine that gates a corpus for release needs the standard
re-identification checks (Sweeney 2002, "k-Anonymity: a model for
protecting privacy"; Machanavajjhala et al. ICDE'06, "l-Diversity"):

* **k-anonymity** — every combination of quasi-identifier values (the
  columns an attacker can link against an external table: lang, domain,
  capture date, ...) must be shared by at least ``k`` rows. Equivalence
  classes smaller than ``k`` pinpoint individuals.
* **distinct l-diversity** — k-anonymity is not enough when everyone in
  a class shares the same *sensitive* value (the homogeneity attack):
  each class must also contain at least ``l`` distinct sensitive values.

Scale shape: k-anonymity is ONE partial-aggregatable groupBy on the
quasi-identifier columns — the shuffle carries (qi..., partial count),
never rows. l-diversity deliberately avoids ``countDistinct`` (which
Spark plans as an Expand over the corpus when mixed with other aggs):
it is TWO stacked partial-aggregatable groupBys — (qi, sensitive) →
per-value counts, then qi → (class size, value count) — the same
fan-out device as checks/fd.py. Both audits survive 100 TB because the
result is bounded by the number of equivalence classes, not rows.

NULL semantics: a NULL quasi-identifier value forms its own equivalence
class and a NULL sensitive value counts as one distinct value — both
Spark's groupBy and DuckDB's GROUP BY already agree on this, so the
oracles need no special-casing.

Reference scope note: eliassona/xmlschemavalidator validates one record
at a time (core.clj:263-285) and has no dataset-level notion; these are
north-rule dataset checks in the style of checks/uniqueness.py (a class
size is a duplicate-key count read through a privacy lens).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def k_anonymity_violations(
    df: DataFrame, quasi_cols: Sequence[str], k: int
) -> DataFrame:
    """Equivalence classes violating k-anonymity: one row per class of
    size < ``k`` — ``(*quasi_cols, class_size)``. Empty result ⇔ the
    table IS k-anonymous w.r.t. these quasi-identifiers."""
    if not quasi_cols:
        raise ValueError("k_anonymity_violations: need ≥1 quasi-identifier column")
    if k < 2:
        raise ValueError(f"k_anonymity_violations: k={k} is vacuous (every class has ≥1 row)")
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).cast("bigint").alias("class_size"))
        .where(F.col("class_size") < k)
    )


def k_anonymity_summary(
    df: DataFrame, quasi_cols: Sequence[str], k: int
) -> DataFrame:
    """One-row release-gate verdict: ``(n_rows, n_classes,
    min_class_size, n_violating_classes, n_rows_at_risk, k_anonymous)``.
    ``min_class_size`` is the k the table actually achieves (the largest
    k for which it is k-anonymous); ``n_rows_at_risk`` counts the rows
    inside violating classes — the suppression cost of enforcing ``k``
    by dropping them."""
    if not quasi_cols:
        raise ValueError("k_anonymity_summary: need ≥1 quasi-identifier column")
    classes = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("class_size")
    )
    viol = F.col("class_size") < k
    return classes.agg(
        F.sum("class_size").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("class_size").alias("min_class_size"),
        F.sum(viol.cast("long")).cast("bigint").alias("n_violating_classes"),
        F.sum(F.when(viol, F.col("class_size")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_rows_at_risk"),
        (F.min("class_size") >= k).alias("k_anonymous"),
    )


def l_diversity_violations(
    df: DataFrame, quasi_cols: Sequence[str], sensitive_col: str, l: int
) -> DataFrame:
    """Equivalence classes violating distinct l-diversity: one row per
    class with < ``l`` distinct sensitive values —
    ``(*quasi_cols, class_size, n_distinct_sensitive)``. Two stacked
    map-side-combinable groupBys; no countDistinct, no Expand."""
    if not quasi_cols:
        raise ValueError("l_diversity_violations: need ≥1 quasi-identifier column")
    if sensitive_col in quasi_cols:
        raise ValueError(
            f"l_diversity_violations: sensitive column {sensitive_col!r} cannot also be "
            "a quasi-identifier (every class would trivially have 1 distinct value)"
        )
    if l < 2:
        raise ValueError(f"l_diversity_violations: l={l} is vacuous (every class has ≥1 value)")
    per_value = df.groupBy(*quasi_cols, sensitive_col).agg(
        F.count(F.lit(1)).alias("_n")
    )
    per_class = per_value.groupBy(*quasi_cols).agg(
        F.sum("_n").cast("bigint").alias("class_size"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_sensitive"),
    )
    return per_class.where(F.col("n_distinct_sensitive") < l)


def t_closeness_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    t_micro: int = 150_000,
    ordered: bool = True,
    quantum: int = 1_000_000,
    round_to: int = 6,
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian ICDE'07) — the
    third leg of the privacy trio: l-diversity stops the homogeneity
    attack but not the SKEWNESS attack (a class can hold l distinct
    salaries that are all in the top percentile). t-closeness requires
    each equivalence class's *distribution* of the sensitive attribute
    to sit within Earth-Mover's Distance ``t`` of the global one.

    Per class: ``(*quasi_cols, class_size, n_values, emd, breaches_t)``.

    * ``ordered=True`` (numeric sensitive attribute): the paper's
      ordered-distance EMD — values on one global grid (quantized to
      ``quantum`` like the rank analyzers), EMD = Σᵢ|Σ_{j≤i}(p_j−q_j)|
      / (m−1) over the m grid values.
    * ``ordered=False`` (categorical): equal-ground-distance EMD
      = ½·Σ|p_j−q_j| (total variation).

    Exactness: p_j−q_j is the rational c·N − g_j·n (class count cross-
    multiplied against the global count), accumulated in DECIMAL(38,0);
    ONE double division + round at the very end, so partition order can
    never flip a hash. ``breaches_t`` compares emd·10⁶ against the
    integer ``t_micro`` on the same fixed chain in both engines.

    Scale shape: cells are a partial-aggregatable groupBy; the lattice
    is classes × distinct grid values (the l-diversity class-bounded
    contract times the distinct value grid), never row-sized;
    the per-class window orders the value grid, not rows. NULL
    sensitive values are excluded from the distribution (a NULL carries
    no attacker-readable value; both engines agree by construction).

    Reference scope note: eliassona/xmlschemavalidator has no dataset
    notion (core.clj:263-285); north-rule release-gate addition beside
    k_anonymity_summary.
    """
    if not quasi_cols:
        raise ValueError("t_closeness_report: need ≥1 quasi-identifier column")
    if sensitive_col in quasi_cols:
        raise ValueError(
            f"t_closeness_report: sensitive column {sensitive_col!r} cannot also be "
            "a quasi-identifier (every class distribution would be a point mass)"
        )
    if ordered:
        s = (
            F.floor(F.col(sensitive_col).cast("double") * F.lit(quantum))
            .cast("bigint")
            .alias("_s")
        )
    else:
        s = F.col(sensitive_col).alias("_s")
    base = df.where(F.col(sensitive_col).isNotNull()).select(*quasi_cols, s)
    cell = base.groupBy(*quasi_cols, "_s").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_c")
    )
    cls = cell.groupBy(*quasi_cols).agg(F.sum("_c").alias("_n"))
    val = cell.groupBy("_s").agg(F.sum("_c").alias("_g"))
    n_tot = val.agg(
        F.sum("_g").alias("_nn"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_m"),
    )
    lattice = (
        cls.crossJoin(F.broadcast(n_tot))
        .crossJoin(val)
        .join(cell, [*quasi_cols, "_s"], "left")
        .select(
            *quasi_cols,
            "_s",
            "_n",
            "_nn",
            "_m",
            "_g",
            (
                F.coalesce("_c", F.lit(0).cast("decimal(38,0)")) * F.col("_nn")
                - F.col("_g") * F.col("_n")
            ).alias("_d"),
        )
    )
    if ordered:
        from pyspark.sql import Window

        w = Window.partitionBy(*quasi_cols).orderBy("_s")
        num = lattice.withColumn("_cum", F.sum("_d").over(w)).groupBy(
            *quasi_cols
        ).agg(
            F.max("_n").alias("_n"),
            F.max("_nn").alias("_nn"),
            F.max("_m").alias("_m"),
            F.sum(F.abs(F.col("_cum"))).alias("_num"),
        )
        emd = F.col("_num").cast("double") / (
            F.col("_n").cast("double")
            * F.col("_nn").cast("double")
            * (F.col("_m").cast("double") - F.lit(1.0))
        )
        emd = F.when(F.col("_m") > 1, emd).otherwise(F.lit(0.0))
    else:
        num = lattice.groupBy(*quasi_cols).agg(
            F.max("_n").alias("_n"),
            F.max("_nn").alias("_nn"),
            F.max("_m").alias("_m"),
            F.sum(F.abs(F.col("_d"))).alias("_num"),
        )
        emd = F.col("_num").cast("double") / (
            F.lit(2.0) * F.col("_n").cast("double") * F.col("_nn").cast("double")
        )
    return num.select(
        *quasi_cols,
        F.col("_n").cast("bigint").alias("class_size"),
        F.col("_m").cast("bigint").alias("n_values"),
        F.round(emd, round_to).alias("emd"),
        (emd * F.lit(1_000_000.0) > F.lit(float(t_micro))).alias("breaches_t"),
    )


def laplace_noisy_counts(
    df: DataFrame,
    group_col: str,
    epsilon_milli: int = 1000,
    salt: str = "laplace",
    round_to: int = 6,
) -> DataFrame:
    """Laplace-mechanism count release (Dwork et al. TCC'06): per-group
    counts with Laplace(Δ/ε) noise at sensitivity Δ=1 — the release
    side of the privacy family (k-anonymity/l-diversity AUDIT a table;
    this publishes an aggregate with calibrated plausible deniability).
    One row per group: ``(group, released_count, epsilon_milli)`` — the
    true count deliberately does NOT appear in the output (releasing it
    beside the noisy one would defeat the mechanism).

    Noise is CONTENT-ADDRESSED, not sampled: u derives from
    md5(salt:group) exactly like the Gumbel/DSIR keys, and
    noise = −(1/ε)·sign(u−½)·ln(1−2|u−½|) is the Laplace inverse-CDF.
    **The privacy caveat is the salt**: determinism makes the release
    reproducible, idempotent across retries and oracle-checkable — but
    an adversary who learns the salt can subtract the noise, so the
    salt carries the entire privacy guarantee (treat it like a key;
    rotate per release). This is the documented trade every
    content-addressed mechanism in this engine makes, stated rather
    than hidden. ε is an integer milli parameter (1000 = ε 1.0).

    Released counts round to ``round_to`` dp and clamp at 0 (both are
    post-processing — DP survives it). Exactness: the count is an
    exact integer; u is the exact 60-bit rational; noise is a fixed
    ln chain (the shared libm contract).

    Scale shape: ONE partial-agg groupBy; noise is a per-GROUP
    projection over the bounded group table.
    """
    if epsilon_milli <= 0:
        raise ValueError(f"laplace_noisy_counts: epsilon_milli={epsilon_milli}")
    per = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n")
    )
    key = F.md5(
        F.concat(
            F.lit(salt), F.lit(":"),
            F.coalesce(F.col("group").cast("string"), F.lit(" null")),
        )
    )
    u = (
        F.conv(F.substring(key, 1, 15), 16, 10).cast("bigint").cast("double")
        + F.lit(0.5)
    ) / F.lit(float(16 ** 15))
    c = u - F.lit(0.5)
    scale = F.lit(1000.0 / epsilon_milli)
    noise = -scale * F.signum(c) * F.log(
        F.lit(1.0) - 2 * F.abs(c)
    )
    return per.select(
        "group",
        F.round(
            F.greatest(F.col("_n").cast("double") + noise, F.lit(0.0)), round_to
        ).alias("released_count"),
        F.lit(epsilon_milli).cast("int").alias("epsilon_milli"),
    )


def laplace_noisy_counts_oracle_sql(
    from_sql: str,
    group_col: str,
    epsilon_milli: int = 1000,
    salt: str = "laplace",
    round_to: int = 6,
) -> str:
    """DuckDB replay of :func:`laplace_noisy_counts` — same md5 uniform,
    same inverse-CDF chain."""
    u = (
        "((CAST(CAST('0x' || substr(md5('"
        + salt
        + "' || ':' || coalesce(CAST(grp AS VARCHAR), ' null')), 1, 15) AS BIGINT) AS DOUBLE)"
        f" + 0.5) / {float(16 ** 15)!r})"
    )
    c = f"({u} - 0.5)"
    noise = (
        f"(-({1000.0 / epsilon_milli!r}) * sign({c})"
        f" * ln(1.0 - 2 * abs({c})))"
    )
    return f"""WITH src AS ({from_sql}),
per AS (SELECT {group_col} AS grp, CAST(count(*) AS BIGINT) AS n
        FROM src GROUP BY {group_col})
SELECT grp AS "group",
  round(greatest(CAST(n AS DOUBLE) + {noise}, 0.0), {round_to})
      AS released_count,
  CAST({epsilon_milli} AS INT) AS epsilon_milli
FROM per"""

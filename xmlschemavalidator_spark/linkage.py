"""Fellegi–Sunter probabilistic record linkage (Fellegi & Sunter, JASA
1969 — the model behind splink/dedupe/US-Census record matching).

Where the dedup family answers "are these the same *text*?", record
linkage answers "are these the same *entity*?" from a comparison vector
γ over candidate pairs: each field comparison (name within edit
distance 1, same segment, balance within $5, ...) contributes a match
weight

    agree:    w⁺ = log2( m / u )
    disagree: w⁻ = log2( (1−m) / (1−u) )

where m = P(agree | same entity) and u = P(agree | different entities).
The pair's total weight Σw classifies against two thresholds into
match / possible (clerical review) / non_match — the three-way decision
rule the paper proves optimal for fixed error rates.

Engine-exactness: the log2 weights are computed ONCE in Python,
rounded to integer micro-units, and injected as literals into both the
Spark plan and the DuckDB oracle — scoring is pure integer sums and
comparisons, so pair scores hash identically. A NULL agreement (either
side missing the field) contributes 0 — the standard missing-data
convention: absence of evidence is not evidence.

Scale shape: scoring is a NARROW projection over the candidate-pair
frame — no shuffle of its own. Candidate generation is the expensive
part and stays in the existing blocking operators
(dedup.sorted_neighborhood_pairs, soundex keys, q-gram joins, MinHash);
this composes downstream of any of them.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000


@dataclass(frozen=True)
class FsField:
    """One field comparison: ``name`` keys the agreement column and the
    output flag ``agree_<name>``; ``m``/``u`` are the conditional
    agreement probabilities. Informative fields have m > u (agreement
    is evidence FOR a match); both must be in (0, 1) so both log
    weights are finite."""

    name: str
    m: float
    u: float

    def __post_init__(self) -> None:
        if not (0.0 < self.m < 1.0 and 0.0 < self.u < 1.0):
            raise ValueError(f"FsField {self.name!r}: m, u must be in (0, 1)")
        if self.m <= self.u:
            raise ValueError(
                f"FsField {self.name!r}: m={self.m} <= u={self.u} — agreement "
                "would be evidence AGAINST a match; negate the comparison instead"
            )

    def weights_micro(self) -> tuple[int, int]:
        """(agree, disagree) log2 weights in integer micro-bits."""
        wa = round(math.log2(self.m / self.u) * MICRO)
        wd = round(math.log2((1.0 - self.m) / (1.0 - self.u)) * MICRO)
        return wa, wd


def fellegi_sunter_score(
    pairs: DataFrame,
    agreements: dict[str, Column],
    fields: list[FsField],
    upper_micro: int,
    lower_micro: int,
) -> DataFrame:
    """Score candidate pairs: appends one ``agree_<name>`` boolean per
    field (NULL when the comparison is NULL), the integer
    ``weight_micro`` = Σ per-field weights, and the three-way
    ``decision`` ∈ {'match', 'possible', 'non_match'} (weight ≥
    ``upper_micro`` / ≥ ``lower_micro`` / below). Thresholds are by
    convention in micro-bits of evidence — pick them from the measured
    weight distribution, not a priori."""
    if lower_micro > upper_micro:
        raise ValueError(
            f"fellegi_sunter_score: lower_micro={lower_micro} > upper_micro={upper_micro}"
        )
    by_name = {f.name: f for f in fields}
    if set(by_name) != set(agreements):
        raise ValueError(
            "fellegi_sunter_score: fields and agreements must cover the same "
            f"names (fields={sorted(by_name)}, agreements={sorted(agreements)})"
        )
    out = pairs
    terms = []
    for name in sorted(by_name):
        wa, wd = by_name[name].weights_micro()
        flag = agreements[name].cast("boolean")
        out = out.withColumn(f"agree_{name}", flag)
        terms.append(
            F.when(F.col(f"agree_{name}").isNull(), F.lit(0).cast("bigint"))
            .when(F.col(f"agree_{name}"), F.lit(wa).cast("bigint"))
            .otherwise(F.lit(wd).cast("bigint"))
        )
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    out = out.withColumn("weight_micro", total)
    return out.withColumn(
        "decision",
        F.when(F.col("weight_micro") >= upper_micro, F.lit("match"))
        .when(F.col("weight_micro") >= lower_micro, F.lit("possible"))
        .otherwise(F.lit("non_match")),
    )


def fs_weight_sql_terms(
    fields: list[FsField], agreement_sql: dict[str, str]
) -> str:
    """Render the oracle-side weight sum: for each field, a CASE over
    the given SQL agreement expression with the SAME integer literals
    as :func:`fellegi_sunter_score` (one code path computes the
    weights; both engines consume them)."""
    by_name = {f.name: f for f in fields}
    if set(by_name) != set(agreement_sql):
        raise ValueError("fs_weight_sql_terms: fields/agreement_sql name mismatch")
    parts = []
    for name in sorted(by_name):
        wa, wd = by_name[name].weights_micro()
        a = agreement_sql[name]
        parts.append(
            f"(CASE WHEN ({a}) IS NULL THEN 0 WHEN ({a}) THEN {wa} ELSE {wd} END)"
        )
    return " + ".join(parts)


# --------------------------------------------------------------------------
# EM parameter estimation (Winkler 1988's EM for the FS model; what
# splink calls "training m and u"). The device that makes it exact and
# scale-proof: EM never touches pairs — it runs on the AGREEMENT-PATTERN
# table (≤ 2^F rows for F fields, one partial-aggregatable groupBy of
# the candidate pairs), and every E-step responsibility is
# floor-quantized to integer trillionths BEFORE the M-step sums, so the
# sums are order-independent integers and each M-step parameter is ONE
# double division of exact integers. The same fixed arithmetic runs as
# pure Python on the collected pattern table (the engine path), and as
# generated unrolled-CTE SQL (the oracle path) — bit-identical.
# --------------------------------------------------------------------------

_R_SCALE = 10**12  # responsibility quantum (trillionths)


def fs_pattern_counts(
    pairs: DataFrame, agreements: dict[str, Column]
) -> DataFrame:
    """The sufficient statistic for EM: one row per observed agreement
    pattern — ``(agree_<f1>, ..., agree_<fF>, n)``. Pairs where ANY
    comparison is NULL are excluded (EM needs a complete γ vector;
    score those pairs with :func:`fellegi_sunter_score`, which handles
    NULLs, but don't train on them). ONE groupBy; ≤ 2^F result rows at
    any corpus size."""
    names = sorted(agreements)
    flags = [agreements[n].cast("boolean").alias(f"agree_{n}") for n in names]
    base = pairs.select(*flags)
    cond = None
    for n in names:
        c = F.col(f"agree_{n}").isNotNull()
        cond = c if cond is None else (cond & c)
    return (
        base.where(cond)
        .groupBy(*[f"agree_{n}" for n in names])
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def fs_em_python(
    patterns: list[tuple[tuple[bool, ...], int]],
    n_fields: int,
    iterations: int = 15,
    lam0: float = 0.1,
    m0: float = 0.9,
    u0: float = 0.1,
) -> tuple[float, list[float], list[float]]:
    """The shared EM recursion: ``patterns`` is [(γ tuple, count)].
    Returns (λ, m[], u[]) after ``iterations`` rounds. Every float op
    here is mirrored operation-for-operation by the generated oracle
    SQL (:func:`fs_em_oracle_cte`) — change one only with the other."""
    lam = lam0
    m = [m0] * n_fields
    u = [u0] * n_fields
    for _ in range(iterations):
        s_n = 0
        s_nr = 0
        s_nr_f = [0] * n_fields
        s_nq_f = [0] * n_fields
        s_nq = 0
        for gamma, n in patterns:
            pm = lam
            pu = 1.0 - lam
            for i in range(n_fields):
                pm = pm * (m[i] if gamma[i] else 1.0 - m[i])
                pu = pu * (u[i] if gamma[i] else 1.0 - u[i])
            r_micro = math.floor(pm / (pm + pu) * _R_SCALE)
            q_micro = _R_SCALE - r_micro
            s_n += n
            s_nr += n * r_micro
            s_nq += n * q_micro
            for i in range(n_fields):
                if gamma[i]:
                    s_nr_f[i] += n * r_micro
                    s_nq_f[i] += n * q_micro
        lam = float(s_nr) / (float(_R_SCALE) * float(s_n))
        m = [float(s_nr_f[i]) / float(s_nr) for i in range(n_fields)]
        u = [float(s_nq_f[i]) / float(s_nq) for i in range(n_fields)]
    return lam, m, u


def fs_em_estimate(
    pairs: DataFrame,
    agreements: dict[str, Column],
    iterations: int = 15,
    lam0: float = 0.1,
    m0: float = 0.9,
    u0: float = 0.1,
    round_to: int = 6,
) -> DataFrame:
    """Estimate (m, u, λ) by EM and return one row per field:
    ``(field, m_est, u_est, lambda_est, w_agree_micro,
    w_disagree_micro)`` — estimates rounded, match weights quantized
    from the FULL-precision estimates (the downstream
    :func:`fellegi_sunter_score` inputs). The pattern table is the only
    Spark job; EM itself runs on ≤ 2^F collected rows."""
    names = sorted(agreements)
    rows = fs_pattern_counts(pairs, agreements).collect()
    if not rows:
        raise ValueError("fs_em_estimate: no complete agreement vectors to train on")
    patterns = [
        (tuple(bool(r[f"agree_{n}"]) for n in names), int(r["n"])) for r in rows
    ]
    lam, m, u = fs_em_python(
        patterns, len(names), iterations=iterations, lam0=lam0, m0=m0, u0=u0
    )
    spark = pairs.sparkSession
    out = []
    for i, n in enumerate(names):
        if not (0.0 < u[i] < m[i] < 1.0):
            wa, wd = None, None  # degenerate fit: field carries no valid weight
        else:
            wa = round(math.log2(m[i] / u[i]) * MICRO)
            wd = round(math.log2((1.0 - m[i]) / (1.0 - u[i])) * MICRO)
        out.append((n, round(m[i], round_to), round(u[i], round_to),
                    round(lam, round_to), wa, wd))
    return spark.createDataFrame(
        out,
        "field string, m_est double, u_est double, lambda_est double, "
        "w_agree_micro bigint, w_disagree_micro bigint",
    )


def fs_em_oracle_cte(
    pattern_sql: str,
    field_names: list[str],
    iterations: int = 15,
    lam0: float = 0.1,
    m0: float = 0.9,
    u0: float = 0.1,
    round_to: int = 6,
) -> str:
    """Generate the DuckDB replay of :func:`fs_em_estimate`:
    ``pattern_sql`` must yield (agree_<f>..., n) — the exact
    :func:`fs_pattern_counts` contract. Each EM iteration is one
    unrolled CTE pair (responsibilities, then the single-row parameter
    update); arithmetic mirrors :func:`fs_em_python`
    operation-for-operation, with HUGEINT-safe integer sums."""
    fs = sorted(field_names)
    nf = len(fs)

    def prod(params: str, which: str) -> str:
        # left-assoc product in field order, exactly like the Python loop
        e = f"{params}.lam" if which == "m" else f"(1.0 - {params}.lam)"
        for f in fs:
            p = f"{params}.{which}_{f}"
            e = f"({e} * (CASE WHEN p.agree_{f} THEN {p} ELSE 1.0 - {p} END))"
        return e

    init_cols = ", ".join(
        [f"CAST({lam0!r} AS DOUBLE) AS lam"]
        + [f"CAST({m0!r} AS DOUBLE) AS m_{f}" for f in fs]
        + [f"CAST({u0!r} AS DOUBLE) AS u_{f}" for f in fs]
    )
    ctes = [f"pat AS ({pattern_sql})", f"it0 AS (SELECT {init_cols})"]
    for k in range(1, iterations + 1):
        pm = prod("l", "m")
        pu = prod("l", "u")
        ctes.append(
            f"""r{k} AS (
  SELECT p.*, CAST(floor({pm} / ({pm} + {pu}) * 1000000000000) AS HUGEINT) AS rm
  FROM pat p CROSS JOIN it{k - 1} l)"""
        )
        upd = [
            "CAST(sum(n * rm) AS DOUBLE)"
            " / (1000000000000.0 * CAST(sum(n) AS DOUBLE)) AS lam"
        ]
        for f in fs:
            upd.append(
                f"CAST(sum(CASE WHEN agree_{f} THEN n * rm ELSE 0 END) AS DOUBLE)"
                f" / CAST(sum(n * rm) AS DOUBLE) AS m_{f}"
            )
        for f in fs:
            upd.append(
                f"CAST(sum(CASE WHEN agree_{f} THEN n * (1000000000000 - rm)"
                f" ELSE 0 END) AS DOUBLE)"
                f" / CAST(sum(n * (1000000000000 - rm)) AS DOUBLE) AS u_{f}"
            )
        ctes.append(f"it{k} AS (SELECT {', '.join(upd)} FROM r{k})")
    last = f"it{iterations}"
    selects = []
    for f in fs:
        selects.append(
            f"""SELECT '{f}' AS field,
  round(m_{f}, {round_to}) AS m_est,
  round(u_{f}, {round_to}) AS u_est,
  round(lam, {round_to}) AS lambda_est,
  CASE WHEN u_{f} < m_{f} AND u_{f} > 0 AND m_{f} < 1
       THEN CAST(round(log2(m_{f} / u_{f}) * 1000000) AS BIGINT) END
    AS w_agree_micro,
  CASE WHEN u_{f} < m_{f} AND u_{f} > 0 AND m_{f} < 1
       THEN CAST(round(log2((1.0 - m_{f}) / (1.0 - u_{f})) * 1000000) AS BIGINT) END
    AS w_disagree_micro
FROM {last}"""
        )
    body = "\nUNION ALL\n".join(selects)
    return "WITH " + ",\n".join(ctes) + "\n" + body


def fs_score_with_weights(
    pairs: DataFrame,
    agreements: dict[str, Column],
    weights_micro: dict[str, tuple[int, int]],
    upper_micro: int,
    lower_micro: int,
) -> DataFrame:
    """:func:`fellegi_sunter_score` with PRE-QUANTIZED micro weights —
    the deploy half of the train→score loop: feed it the
    ``(w_agree_micro, w_disagree_micro)`` columns of
    :func:`fs_em_estimate` so the learned full-precision weights score
    pairs without a lossy round-trip through rounded m/u. Same NULL
    convention and three-way decision rule."""
    if lower_micro > upper_micro:
        raise ValueError(
            f"fs_score_with_weights: lower_micro={lower_micro} > upper_micro={upper_micro}"
        )
    if set(weights_micro) != set(agreements):
        raise ValueError("fs_score_with_weights: weights/agreements name mismatch")
    out = pairs
    terms = []
    for name in sorted(weights_micro):
        wa, wd = weights_micro[name]
        if wa is None or wd is None:
            raise ValueError(
                f"fs_score_with_weights: field {name!r} has no valid weights "
                "(degenerate EM fit) — drop it from the comparison set"
            )
        flag = agreements[name].cast("boolean")
        out = out.withColumn(f"agree_{name}", flag)
        terms.append(
            F.when(F.col(f"agree_{name}").isNull(), F.lit(0).cast("bigint"))
            .when(F.col(f"agree_{name}"), F.lit(int(wa)).cast("bigint"))
            .otherwise(F.lit(int(wd)).cast("bigint"))
        )
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    out = out.withColumn("weight_micro", total)
    return out.withColumn(
        "decision",
        F.when(F.col("weight_micro") >= upper_micro, F.lit("match"))
        .when(F.col("weight_micro") >= lower_micro, F.lit("possible"))
        .otherwise(F.lit("non_match")),
    )


def blocking_evaluation(
    candidates: DataFrame,
    truth: DataFrame,
    n_records: int,
    cand_cols: tuple[str, str] = ("id_a", "id_b"),
    truth_cols: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """Blocking-scheme evaluation (Christen, TKDE 2012 survey metrics):
    ONE row ``(n_records, n_total_pairs, n_candidates, n_truth,
    n_found, reduction_ratio_micro, pairs_completeness_micro,
    pair_quality_micro)`` — the three-way verdict on a candidate
    generator: RR = how much of the n(n−1)/2 quadratic space the
    blocking refused to score, PC (recall) = what fraction of TRUE
    matches survived into candidates, PQ (precision) = what fraction
    of candidates are true. The near-dup method-evaluation twin for
    the record-linkage side of the house: SNM/LSH parameters are
    chosen by exactly this trade-off.

    All ratios are integer micros (numerators/denominators exact
    BIGINT/DECIMAL counts; n(n−1)/2 at 10^12 records needs the
    DECIMAL(38,0) lane). Pairs canonicalize to (least, greatest) and
    dedup before counting, so orientation conventions can't skew the
    verdict. Composition: three single-row aggregates cross-joined —
    the drift.py one-row contract, no data-sized collect anywhere.
    """
    if n_records < 2:
        raise ValueError(f"blocking_evaluation: need n_records >= 2, got {n_records}")

    def canon(df: DataFrame, cols: tuple[str, str]) -> DataFrame:
        a, b = cols
        return (
            df.select(
                F.least(F.col(a), F.col(b)).alias("a"),
                F.greatest(F.col(a), F.col(b)).alias("b"),
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    c = canon(candidates, cand_cols)
    t = canon(truth, truth_cols)
    nc = c.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    nt = t.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    nf = c.join(t, ["a", "b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_found")
    )
    d38 = "decimal(38,0)"
    total = n_records * (n_records - 1) // 2
    return (
        nc.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nf))
        .select(
            F.lit(n_records).cast("bigint").alias("n_records"),
            F.lit(total).cast("bigint").alias("n_total_pairs"),
            "n_candidates",
            "n_truth",
            "n_found",
            F.expr(
                f"CAST((CAST({total} AS {d38}) - CAST(n_candidates AS {d38}))"
                f" * 1000000 div CAST({total} AS {d38}) AS BIGINT)"
            ).alias("reduction_ratio_micro"),
            F.expr(
                "CASE WHEN n_truth > 0 THEN n_found * 1000000 div n_truth END"
            ).alias("pairs_completeness_micro"),
            F.expr(
                "CASE WHEN n_candidates > 0 THEN"
                " n_found * 1000000 div n_candidates END"
            ).alias("pair_quality_micro"),
        )
    )


def bcubed_evaluation(
    assignment: DataFrame,
    truth: DataFrame,
    id_col: str = "id",
    cluster_col: str = "cluster",
    truth_col: str = "truth",
) -> DataFrame:
    """B³ (B-cubed) extrinsic clustering evaluation (Bagga & Baldwin
    1998; the metric Amigó et al. IR'09 showed uniquely satisfies all
    four clustering-evaluation constraints, where pairwise-F and purity
    each fail one): ONE row ``(n_records, n_clusters, n_truth_classes,
    precision_micro, recall_micro, f1_micro)`` judging a finished
    cluster ASSIGNMENT against gold classes — the third leg of the ER
    evaluation stack: blocking_evaluation grades candidate GENERATION,
    the match model grades PAIR decisions, B³ grades what the user
    actually receives (the clusters), per RECORD not per pair, so one
    giant wrong cluster can't dominate the way it does in pairwise-F.

    Per record r: precision(r) = |C(r) ∩ T(r)| / |C(r)|, recall(r) =
    |C(r) ∩ T(r)| / |T(r)|; the macro averages collapse to cell sums —
    B³P = (1/N) Σ_cells n_ct²/n_c — so the whole evaluation is three
    partial aggregates and two bounded joins over (cluster, truth)
    CELLS; no pair is ever generated (the reason B³ runs at corpus
    scale and pairwise-F doesn't: a 10⁶-record cluster is one cell
    row here and 10¹² pairs there).

    Records are evaluated on the INNER join of assignment and truth —
    a record missing a gold label can't be scored and silently scoring
    it as its own class would inflate both metrics. Singleton clusters/
    classes need no special case: n_ct = n_c = n_t = 1 scores 1.0.

    Exactness: every per-cell term is an exact integer division
    (n_ct²·10⁶ div n_c — DECIMAL(38,0) lane for the square at 10¹²
    scale), summed then divided by N in integer micro space;
    f1 = 2PR/(P+R) likewise in micros. Per-cell floors accumulate, but
    #cells ≤ N bounds the total at 2 micro per metric — and the chain
    is integer-identical in both engines regardless.
    """
    d38 = "decimal(38,0)"
    j = assignment.select(
        F.col(id_col).alias("_id"), F.col(cluster_col).alias("_c")
    ).join(
        truth.select(F.col(id_col).alias("_id"), F.col(truth_col).alias("_t")),
        "_id",
    )
    cells = j.groupBy("_c", "_t").agg(F.count(F.lit(1)).alias("_nct"))
    csz = j.groupBy("_c").agg(F.count(F.lit(1)).alias("_nc"))
    tsz = j.groupBy("_t").agg(F.count(F.lit(1)).alias("_nt"))
    prec = (
        cells.join(csz, "_c")
        .select(
            F.expr(
                f"CAST(CAST(_nct AS {d38}) * CAST(_nct AS {d38}) * 1000000"
                f" div CAST(_nc AS {d38}) AS BIGINT)"
            ).alias("_pm")
        )
        .agg(F.sum(F.col("_pm").cast("decimal(38,0)")).alias("_psum"))
    )
    rec = (
        cells.join(tsz, "_t")
        .select(
            F.expr(
                f"CAST(CAST(_nct AS {d38}) * CAST(_nct AS {d38}) * 1000000"
                f" div CAST(_nt AS {d38}) AS BIGINT)"
            ).alias("_rm")
        )
        .agg(F.sum(F.col("_rm").cast("decimal(38,0)")).alias("_rsum"))
    )
    tot = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_records"),
        F.count_distinct(F.col("_c")).cast("bigint").alias("n_clusters"),
        F.count_distinct(F.col("_t")).cast("bigint").alias("n_truth_classes"),
    )
    out = tot.crossJoin(F.broadcast(prec)).crossJoin(F.broadcast(rec))
    pm = F.expr(
        "CASE WHEN n_records > 0 THEN"
        " CAST(_psum div n_records AS BIGINT) END"
    )
    rm = F.expr(
        "CASE WHEN n_records > 0 THEN"
        " CAST(_rsum div n_records AS BIGINT) END"
    )
    return out.select(
        "n_records",
        "n_clusters",
        "n_truth_classes",
        pm.alias("precision_micro"),
        rm.alias("recall_micro"),
    ).select(
        "*",
        F.expr(
            "CASE WHEN coalesce(precision_micro, 0) + coalesce(recall_micro, 0)"
            " > 0 THEN CAST(2 * CAST(precision_micro AS DECIMAL(38,0))"
            " * CAST(recall_micro AS DECIMAL(38,0))"
            " div (CAST(precision_micro AS DECIMAL(38,0))"
            " + CAST(recall_micro AS DECIMAL(38,0))) AS BIGINT) END"
        ).alias("f1_micro"),
    )


def jaro_winkler_py(a: str, b: str) -> float:
    """Pure-Python Jaro–Winkler (Winkler 1990 over Jaro 1989), the
    standard parameterization DuckDB's ``jaro_winkler_similarity``
    implements (verified empirically: p = 0.1, prefix cap 4, boost only
    when jaro > 0.7): the scaling reference for the Arrow UDF below and
    the unit tests. Zero-match pairs (including window-0 transposed
    bigrams like ab/ba) read 0.0; empty-vs-anything reads 0.0."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    fa = [False] * la
    fb = [False] * lb
    m = 0
    for i in range(la):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        for j in range(lo, hi):
            if not fb[j] and a[i] == b[j]:
                fa[i] = fb[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(la):
        if fa[i]:
            while not fb[j]:
                j += 1
            if a[i] != b[j]:
                t += 1
            j += 1
    t //= 2
    jaro = (m / la + m / lb + (m - t) / m) / 3.0
    if jaro > 0.7:
        prefix = 0
        for x, y in zip(a, b):
            if x == y and prefix < 4:
                prefix += 1
            else:
                break
        jaro = jaro + prefix * 0.1 * (1.0 - jaro)
    return jaro


def with_jaro_winkler(
    df: DataFrame,
    a_col: str,
    b_col: str,
    out_col: str = "jw",
    round_to: int = 6,
) -> DataFrame:
    """Jaro–Winkler comparator column — the record-linkage similarity
    built for NAMES (Winkler's Census work): position-windowed matches
    + transposition discount + common-prefix boost, where Levenshtein
    charges full price for a transposition and Soundex collapses too
    much. Slots straight into the Fellegi–Sunter agreement patterns as
    a graded comparator beside exact/levenshtein/soundex.

    Python path DISCLOSED and justified (the rules of the repo): the
    per-pair flag-array walk has no Column-expression form; this is an
    Arrow-batched ``pandas_udf`` (never row-at-a-time Python UDF), like
    the engine's other no-Column-form kernels. NULL in either side → NULL
    out. Values rounded ``round_to`` dp; the oracle is DuckDB's
    BUILT-IN ``jaro_winkler_similarity`` — same parameterization
    (verified: p=0.1, prefix≤4, boost threshold 0.7), so the hash
    compare crosschecks two INDEPENDENT implementations.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf  # lazy: needs a session

    def _jw_fn(a, b):
        out = []
        for x, y in zip(a, b):
            if x is None or y is None:
                out.append(None)
            else:
                out.append(jaro_winkler_py(x, y))
        return pd.Series(out, dtype="float64")

    # real-object annotations: the module's `from __future__ import
    # annotations` would stringify inline hints, which pandas_udf can't
    # resolve against this module's globals (pd is function-local)
    _jw_fn.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    _jw = pandas_udf(_jw_fn, "double")

    return df.withColumn(
        out_col, F.round(_jw(F.col(a_col), F.col(b_col)), round_to)
    )


def krippendorff_alpha(
    df: DataFrame,
    unit_col: str,
    value_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Krippendorff's alpha, nominal metric (Krippendorff 1970/2004) —
    the agreement coefficient for the panel shapes the rest of the
    family can't hold: Cohen's κ needs exactly two raters on every
    item, Kendall's W needs complete rankings; α takes ANY number of
    raters with MISSING ratings (each unit contributes whatever pairs
    it has). Input is the LONG ratings table (unit, value) — rater
    identity is irrelevant to α by design; units with fewer than two
    ratings carry no pairable information and are excluded (reported).
    ONE row ``(n_units, n_pairable, n_categories, alpha)``.

    Closed form used (nominal): with n = Σ pairable ratings, n_c the
    per-category totals, and the per-unit disagreement sum

        S = Σ_u (m_u² − Σ_c n_uc²) / (m_u − 1)

    α = 1 − (n−1)·S / (n² − Σ_c n_c²) — the coincidence-matrix
    identity collapsed so no c×k matrix ever materializes. Exactness:
    all counts exact integers in DECIMAL; the per-unit rational S terms
    are 12dp-rounded then DECIMAL-summed (order-free); the final value
    is one fixed double chain. All ratings in one category (or a single
    unit of identical votes) → zero expected disagreement → NULL alpha
    (undefined, the classic convention — never a div/0).

    Scale shape: groupBy (unit, value) → per-unit partial aggs → one
    row; category totals ride the same cell table. Nothing bounded by
    raters², units², or categories².

    Reference scope note: eliassona/xmlschemavalidator has no dataset
    layer (core.clj:263-285); north-rule addition completing the
    agreement family (κ two-rater / W m-rankings / α m-rater-missing).
    """
    base = df.where(
        F.col(unit_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(unit_col).alias("_u"), F.col(value_col).alias("_v"))
    cell = base.groupBy("_u", "_v").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_c")
    )
    per_u = cell.groupBy("_u").agg(
        F.sum("_c").alias("_m"),
        F.sum(F.col("_c") * F.col("_c")).alias("_ss"),
    )
    pairable = per_u.where(F.col("_m") >= 2)
    su = pairable.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.coalesce(F.sum("_m"), F.lit(0).cast("decimal(38,0)"))
        .alias("_n"),
        F.coalesce(
            F.sum(
                F.round(
                    (F.col("_m") * F.col("_m") - F.col("_ss")).cast("double")
                    / (F.col("_m") - 1).cast("double"),
                    12,
                ).cast("decimal(38,12)")
            ),
            F.lit(0).cast("decimal(38,12)"),
        )
        .alias("_s"),
    )
    # category totals over PAIRABLE units only (the α contract)
    cat = (
        cell.join(pairable.select("_u"), "_u")
        .groupBy("_v")
        .agg(F.sum("_c").alias("_nc"))
    )
    cagg = cat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
        F.coalesce(
            F.sum(F.col("_nc") * F.col("_nc")), F.lit(0).cast("decimal(38,0)")
        ).alias("_nc2"),
    )
    j = su.crossJoin(F.broadcast(cagg))
    nn = F.col("_n").cast("double")
    de_num = F.col("_n") * F.col("_n") - F.col("_nc2")  # exact DECIMAL
    alpha = F.when(
        (F.col("_n") >= 2) & (de_num > 0),
        F.lit(1.0)
        - (nn - F.lit(1.0))
        * F.col("_s").cast("double")
        / de_num.cast("double"),
    )
    return j.select(
        "n_units",
        F.col("_n").cast("bigint").alias("n_pairable"),
        "n_categories",
        F.round(alpha, round_to).alias("alpha"),
    )


def krippendorff_oracle_sql(from_sql: str, round_to: int = 6) -> str:
    """DuckDB replay of :func:`krippendorff_alpha`; ``from_sql`` must
    yield ``unit`` and ``val``. Same cell collapse, same 12dp-round-
    then-DECIMAL-sum S, same fixed final chain."""
    return f"""WITH src AS ({from_sql}),
b AS (SELECT unit AS u, val AS v FROM src
      WHERE unit IS NOT NULL AND val IS NOT NULL),
cell AS (SELECT u, v, CAST(count(*) AS DECIMAL(38,0)) AS c
         FROM b GROUP BY u, v),
per_u AS (SELECT u, CAST(sum(c) AS DECIMAL(38,0)) AS m,
            CAST(sum(c * c) AS DECIMAL(38,0)) AS ss
          FROM cell GROUP BY u),
pairable AS (SELECT * FROM per_u WHERE m >= 2),
su AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
    CAST(coalesce(sum(m), 0) AS DECIMAL(38,0)) AS n,
    coalesce(sum(CAST(round(CAST(m * m - ss AS DOUBLE)
        / CAST(m - 1 AS DOUBLE), 12) AS DECIMAL(38,12))),
        CAST(0 AS DECIMAL(38,12))) AS s
  FROM pairable),
cat AS (SELECT cell.v, CAST(sum(cell.c) AS DECIMAL(38,0)) AS nc
        FROM cell JOIN pairable ON cell.u = pairable.u GROUP BY cell.v),
cagg AS (SELECT CAST(count(*) AS BIGINT) AS n_categories,
    CAST(coalesce(sum(nc * nc), 0) AS DECIMAL(38,0)) AS nc2 FROM cat)
SELECT su.n_units, CAST(su.n AS BIGINT) AS n_pairable, cagg.n_categories,
  round(CASE WHEN su.n >= 2 AND su.n * su.n - cagg.nc2 > 0 THEN
      1.0 - (CAST(su.n AS DOUBLE) - 1.0) * CAST(su.s AS DOUBLE)
      / CAST(su.n * su.n - cagg.nc2 AS DOUBLE) END, {round_to}) AS alpha
FROM su, cagg"""


def fleiss_kappa(
    df: DataFrame,
    unit_col: str,
    value_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Fleiss' kappa (Fleiss 1971) — fixed-panel m-rater chance-
    corrected agreement, completing the family: Cohen's κ (two raters,
    identity known), Krippendorff's α (any raters, missing data),
    Fleiss κ (the classic m-raters-per-item design — every unit rated
    by exactly m raters, identity irrelevant). Input is the LONG
    ratings table (unit, value); m is inferred and units with a
    DIFFERENT rating count are excluded (reported via n_units vs the
    input — the complete-design contract). ONE row ``(n_units, m,
    n_categories, p_bar, p_e, kappa)`` with

        P̄  = Σ_u Σ_c n_uc(n_uc−1) / (n·m(m−1))
        P̄e = Σ_c (Σ_u n_uc / (n·m))²
        κ  = (P̄ − P̄e) / (1 − P̄e)

    Exactness: every numerator is an exact integer in DECIMAL(38,0)
    (P̄'s pair counts directly; P̄e as Σ_c t_c² over category totals
    against the common denominator (nm)²); the two ratios and the
    final κ are a fixed IEEE chain. P̄e = 1 (all ratings one category)
    → NULL κ, the classic undefined case. Scale shape: groupBy
    (unit, value) cells → per-unit and per-category partial aggs →
    one row; the panel size m is inferred as the MODAL per-unit
    rating count (the count shared by the most units; ties → the
    larger m), stated — pass pre-filtered complete panels to pin it.
    """
    base = df.where(
        F.col(unit_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(unit_col).alias("_u"), F.col(value_col).alias("_v"))
    cell = base.groupBy("_u", "_v").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_c")
    )
    per_u = cell.groupBy("_u").agg(F.sum("_c").alias("_m"))
    m_mode = (
        per_u.groupBy("_m")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .orderBy(F.col("_cnt").desc(), F.col("_m").desc())
        .limit(1)
        .select(F.col("_m").alias("_mm"))
    )
    kept_units = per_u.crossJoin(F.broadcast(m_mode)).where(
        F.col("_m") == F.col("_mm")
    ).select("_u", "_mm")
    kc = cell.join(F.broadcast(kept_units), "_u")
    one = F.lit(1).cast("decimal(38,0)")
    pairs = kc.agg(
        F.count(F.lit(1)).alias("_ncells"),
        F.coalesce(
            F.sum(F.col("_c") * (F.col("_c") - one)),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_agree"),
        F.max("_mm").alias("_mv"),
    )
    nu = kept_units.agg(F.count(F.lit(1)).cast("bigint").alias("n_units"))
    cat = kc.groupBy("_v").agg(F.sum("_c").alias("_tc"))
    cagg = cat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
        F.coalesce(
            F.sum(F.col("_tc") * F.col("_tc")), F.lit(0).cast("decimal(38,0)")
        ).alias("_tc2"),
    )
    j = nu.crossJoin(F.broadcast(pairs)).crossJoin(F.broadcast(cagg))
    n = F.col("n_units").cast("double")
    m = F.col("_mv").cast("double")
    ok = (F.col("n_units") > 0) & (F.col("_mv") >= 2)
    p_bar = F.col("_agree").cast("double") / (n * m * (m - F.lit(1.0)))
    p_e = F.col("_tc2").cast("double") / (n * m * n * m)
    kappa = F.when(
        ok & (p_e < 1.0), (p_bar - p_e) / (F.lit(1.0) - p_e)
    )
    return j.select(
        "n_units",
        F.col("_mv").cast("bigint").alias("m"),
        "n_categories",
        F.round(F.when(ok, p_bar), round_to).alias("p_bar"),
        F.round(F.when(ok, p_e), round_to).alias("p_e"),
        F.round(kappa, round_to).alias("kappa"),
    )


def fleiss_oracle_sql(from_sql: str, round_to: int = 6) -> str:
    """DuckDB replay of :func:`fleiss_kappa`; ``from_sql`` must yield
    ``unit`` and ``val``. Same modal-m gate, same exact numerators."""
    return f"""WITH src AS ({from_sql}),
b AS (SELECT unit AS u, val AS v FROM src
      WHERE unit IS NOT NULL AND val IS NOT NULL),
cell AS (SELECT u, v, CAST(count(*) AS DECIMAL(38,0)) AS c
         FROM b GROUP BY u, v),
per_u AS (SELECT u, CAST(sum(c) AS DECIMAL(38,0)) AS m FROM cell GROUP BY u),
mmode AS (SELECT m AS mm FROM (SELECT m, count(*) AS cnt FROM per_u
          GROUP BY m) ORDER BY cnt DESC, m DESC LIMIT 1),
kept AS (SELECT per_u.u, mmode.mm FROM per_u, mmode
         WHERE per_u.m = mmode.mm),
kc AS (SELECT cell.*, kept.mm FROM cell JOIN kept USING (u)),
pairs AS (SELECT CAST(coalesce(sum(c * (c - 1)), 0) AS DECIMAL(38,0))
            AS agree, max(mm) AS mv FROM kc),
nu AS (SELECT CAST(count(*) AS BIGINT) AS n_units FROM kept),
cat AS (SELECT v, CAST(sum(c) AS DECIMAL(38,0)) AS tc FROM kc GROUP BY v),
cagg AS (SELECT CAST(count(*) AS BIGINT) AS n_categories,
    CAST(coalesce(sum(tc * tc), 0) AS DECIMAL(38,0)) AS tc2 FROM cat)
SELECT nu.n_units, CAST(pairs.mv AS BIGINT) AS m, cagg.n_categories,
  round(CASE WHEN nu.n_units > 0 AND pairs.mv >= 2 THEN
      CAST(pairs.agree AS DOUBLE)
      / (CAST(nu.n_units AS DOUBLE) * CAST(pairs.mv AS DOUBLE)
         * (CAST(pairs.mv AS DOUBLE) - 1.0)) END, {round_to}) AS p_bar,
  round(CASE WHEN nu.n_units > 0 AND pairs.mv >= 2 THEN
      CAST(cagg.tc2 AS DOUBLE)
      / (CAST(nu.n_units AS DOUBLE) * CAST(pairs.mv AS DOUBLE)
         * CAST(nu.n_units AS DOUBLE) * CAST(pairs.mv AS DOUBLE)) END,
      {round_to}) AS p_e,
  round(CASE WHEN nu.n_units > 0 AND pairs.mv >= 2
      AND CAST(cagg.tc2 AS DOUBLE)
        / (CAST(nu.n_units AS DOUBLE) * CAST(pairs.mv AS DOUBLE)
           * CAST(nu.n_units AS DOUBLE) * CAST(pairs.mv AS DOUBLE)) < 1.0
      THEN (CAST(pairs.agree AS DOUBLE)
        / (CAST(nu.n_units AS DOUBLE) * CAST(pairs.mv AS DOUBLE)
           * (CAST(pairs.mv AS DOUBLE) - 1.0))
        - CAST(cagg.tc2 AS DOUBLE)
          / (CAST(nu.n_units AS DOUBLE) * CAST(pairs.mv AS DOUBLE)
             * CAST(nu.n_units AS DOUBLE) * CAST(pairs.mv AS DOUBLE)))
        / (1.0 - CAST(cagg.tc2 AS DOUBLE)
          / (CAST(nu.n_units AS DOUBLE) * CAST(pairs.mv AS DOUBLE)
             * CAST(nu.n_units AS DOUBLE) * CAST(pairs.mv AS DOUBLE)))
      END, {round_to}) AS kappa
FROM nu, pairs, cagg"""

"""Validation engine: apply a compiled RuleSet to a DataFrame in one pass.

Output model (SURVEY.md §1.3) — the reference's verdict tree
(``[status value tag]`` leaves, core.clj parser_test.clj:311-316) becomes:

* **wide verdicts**  — one boolean column per rule plus ``_doc_ok`` (the
  AND-fold that is the reference's ``valid?``, core.clj:279-285), a lazy
  full-width frame: each action on it evaluates the rules again;
* **violations**     — a long DataFrame ``(key, rule_id, observed_value)``;
* **partition summary** — per ``spark_partition_id()`` pass/fail counts
  (the dataset-level analogue of per-node status metadata from ``decode``,
  core.clj:263-276).

One evaluation feeds both the violations and the summary, as the
reference's one ``validator-fn`` call per document yields both the decoded
value and every node's status. The first access to either one
checkpoints a *compact frame* (:func:`compact_frame`): each rule
contributes ``when(failed, struct(rule_id, observed_value))`` to ONE array,
read from the verdict columns and closed by a marker element, which is
plainly ``explode``-d and kept ``WHERE v IS NOT NULL``. Every input row
leaves one marker row carrying only its ``_doc_ok``; each failed rule
leaves one row carrying the key, the ``violation_cols`` and its observed
value. An observed value is computed only for a rule that failed, there is
no higher-order function, and N rules never cause N scans or a union of N
subplans. The violations are the checkpoint's rule rows and the summary
counts its marker rows, so a caller running both pays one scan and one
rule evaluation per row (:class:`ValidationResult`).

Compile once: every Column built per rule — the ``rule_<id>_ok`` verdicts,
the ``_doc_ok`` fold and the violation payload arrays — is derived from the
RuleSet's memoized compile (:meth:`RuleSet.compiled`) the first time it is
needed and kept with it (:func:`rule_columns`). A later ``validate()`` on the
same RuleSet, from the batch engine, a manifest batch or a streaming
micro-batch, only assembles DataFrames; nothing is rebuilt per call unless
the rules or the type registry changed. These driver-side expression
objects are kept with the RuleSet; the only data kept is a result's own
checkpoint, which lives as long as the result does.

Scale notes: the whole verdict computation is narrow (no shuffle), and so
is the compact frame: its checkpoint keeps the scan's partitions, which is
what lets the summary group by ``spark_partition_id()`` over it. The only
shuffle is the partition-summary aggregation, a partial+final hash
aggregate over at most O(#partitions) groups that reads the checkpoint,
not the input. Violations inherit the input's partitioning. The
checkpoint holds one serialized row per input row plus one per
violation in executor memory, spilling to executor disk: about 2 bytes
per input row for the flagship's pages, as compressed blocks (SCALE.md).
At 10^12 rows, nothing here is a bottleneck beyond the scan.

Failure mode: the checkpoint lives on the executors that computed it and
is not recomputed from the input. If an executor is lost between the
action on ``violations`` and the one on ``partition_summary``, the second
action fails with Spark's ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` error
("Checkpoint block rdd_<id>_<partition> not found!"). That is an error,
never a short count: validate again.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass
from functools import cached_property
from typing import Optional

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from xmlschemavalidator_spark.compiler import RuleSet

OK_PREFIX = "rule_"
OK_SUFFIX = "_ok"
DOC_OK = "_doc_ok"


def ok_col_name(rule_id: str) -> str:
    return f"{OK_PREFIX}{rule_id}{OK_SUFFIX}"


@dataclass
class ValidationResult:
    """Handle over the three output shapes of one ``validate()``.

    ``verdicts`` is a lazy full-width DataFrame; each action on it
    evaluates the rules again. ``violations`` and ``partition_summary``
    come from ONE evaluation: the first access to either one checkpoints
    ``compact`` (eagerly, so its scan runs under that access as a job of
    its own), and both are read from that checkpoint, however many
    actions the caller runs on them. The checkpoint's blocks are freed by
    Spark's ContextCleaner once this result and the DataFrames taken from
    it are garbage. See the module docstring for the failure mode."""

    verdicts: DataFrame  # input + rule_<id>_ok booleans + _doc_ok
    compact: DataFrame  # unevaluated; see compact_frame
    violation_columns: list[str]  # key, rule_id, observed_value, *violation_cols
    observation: Optional[Observation] = None  # filled when observe=True

    @cached_property
    def _checkpoint(self) -> DataFrame:
        # serialized: a passing row's marker then costs a few bytes, not a
        # Java object per row
        return self.compact.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)

    @cached_property
    def violations(self) -> DataFrame:
        """``(key, rule_id, observed_value, *violation_cols)``: the
        checkpoint's rule rows."""
        return self._checkpoint.where(F.col("rule_id").isNotNull()).select(
            *self.violation_columns
        )

    @cached_property
    def partition_summary(self) -> DataFrame:
        """``(partition_id, n_rows, n_failed_docs, pass)`` per input
        partition: the checkpoint's marker rows, grouped by
        ``spark_partition_id()`` (the checkpoint keeps the scan's
        partitions). A partition without rows has no summary row."""
        return (
            self._checkpoint.where(F.col("rule_id").isNull())
            .groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum((~F.col(DOC_OK)).cast("long")).alias("n_failed_docs"),
            )
            .withColumn("pass", F.col("n_failed_docs") == F.lit(0))
        )

    def rule_counts(self) -> dict[str, int]:
        """Per-rule violation counts + n_rows/n_failed_docs, harvested from
        the Observation attached to the verdicts plan: Spark accumulates
        these DURING whatever action first runs that plan — an action on
        ``verdicts`` or the checkpoint behind ``violations`` and
        ``partition_summary`` — ZERO additional scans (at 100 TB a separate
        count-per-rule pass is a whole extra job). Blocks until such an
        action has run."""
        if self.observation is None:
            raise ValueError("validate(..., observe=True) was not requested")
        return dict(self.observation.get)

    def valid(self) -> bool:
        """Fold-AND over every verdict — the reference's ``valid?``
        (core.clj:279-285). Implemented as `no violating document exists`,
        which lets Spark stop at the first counterexample."""
        return self.verdicts.filter(~F.col(DOC_OK)).isEmpty()


@dataclass(frozen=True, eq=False)
class RuleColumns:
    """The Columns the engine builds per rule, derived once from a RuleSet's
    memoized compile and shared by the batch and streaming paths."""

    verdicts: dict[str, Column]  # rule_<id>_ok -> the rule's boolean Column
    # AND of coalesce(rule_<id>_ok, false): a rule yielding NULL counts as
    # failed here exactly as in the violation rows; reads the verdict columns
    doc_ok: Column
    # array(when(failed, struct(rule_id, observed_value))), in ruleset order
    failures: Column
    # the same elements with `failed` read from the rule_<id>_ok columns,
    # then a marker struct(NULL, NULL) that no row filters out
    marked: Column


def rule_columns(ruleset: RuleSet) -> RuleColumns:
    """``ruleset``'s :class:`RuleColumns`, built on first use and cached
    with its compile (rebuilt only when that compile is)."""
    compiled = ruleset.compiled()
    if compiled.derived is None:
        verdicts = {ok_col_name(rid): c for rid, c in compiled.columns.items()}
        doc_ok = F.lit(True)
        for name in verdicts:
            doc_ok = doc_ok & F.coalesce(F.col(name), F.lit(False))
        # Each rule's payload sits under when(~coalesce(ok, false), ...), so
        # its observed value (e.g. a decoded html prefix) is evaluated only
        # for the rows that rule fails. Never build every rule's payload and
        # drop the passing ones with a higher-order ``filter``: that
        # evaluates every observed value on every row, interpreted.
        rules = ruleset.resolved_rules()
        payloads = [
            F.struct(
                F.lit(rule.rule_id).alias("rule_id"),
                F.expr(rule.observed_expr).cast("string").alias("observed_value"),
            )
            for rule in rules
        ]
        failures = F.array(*[
            F.when(~F.coalesce(compiled.columns[rule.rule_id], F.lit(False)), p)
            for rule, p in zip(rules, payloads)
        ])
        marked = F.array(
            *[
                F.when(~F.coalesce(F.col(ok_col_name(rule.rule_id)), F.lit(False)), p)
                for rule, p in zip(rules, payloads)
            ],
            F.struct(
                F.lit(None).cast("string").alias("rule_id"),
                F.lit(None).cast("string").alias("observed_value"),
            ),
        )
        compiled.derived = RuleColumns(verdicts, doc_ok, failures, marked)
    return compiled.derived


def with_verdicts(df: DataFrame, ruleset: RuleSet) -> DataFrame:
    """``df`` plus one ``rule_<id>_ok`` boolean per rule and their
    ``_doc_ok`` fold — the one verdict builder of the batch engine and
    streaming validation."""
    cols = rule_columns(ruleset)
    return df.withColumns(cols.verdicts).withColumn(DOC_OK, cols.doc_ok)


def explode_failures(df: DataFrame, ruleset: RuleSet, *carry: str) -> DataFrame:
    """The single-pass violations core, shared by the batch engine and the
    streaming violation paths so the two can never drift: one
    ``(carry..., rule_id, observed_value)`` row per failed rule per input
    row, in ruleset order within a row.

    The payload array (:class:`RuleColumns` ``failures``) holds one
    ``when(~coalesce(ok, false), struct(rule_id, observed_value))`` per
    rule; NULL counts as failed, as in ``_doc_ok``. It gets a plain
    ``explode`` and ``WHERE v IS NOT NULL`` — all codegen'd, no lambda."""
    return (
        df.select(*carry, F.explode(rule_columns(ruleset).failures).alias("_v"))
        .where(F.col("_v").isNotNull())
        .select(*carry, "_v.rule_id", "_v.observed_value")
    )


def compact_frame(verdicts: DataFrame, ruleset: RuleSet, *carry: str) -> DataFrame:
    """The one frame that ``violations`` and ``partition_summary`` are read
    from: ``(carry..., rule_id, observed_value, _doc_ok)`` over the output
    of :func:`with_verdicts`.

    :class:`RuleColumns` ``marked`` holds each rule's
    ``when(~coalesce(rule_<id>_ok, false), struct(rule_id,
    observed_value))`` and then one marker element; it gets the plain
    ``explode`` and ``WHERE v IS NOT NULL`` of :func:`explode_failures`.
    So every input row leaves one marker row (``rule_id`` NULL) that
    carries only its ``_doc_ok``, and each failed rule one row that
    carries ``carry`` and its observed value, in ruleset order, before its
    row's marker. The rules are read from the verdict columns, so each is
    evaluated once per row. Narrow: the frame keeps ``verdicts``'
    partitions."""
    rule = F.col("_v.rule_id")
    failed = rule.isNotNull()
    return (
        verdicts.select(*carry, DOC_OK, F.explode(rule_columns(ruleset).marked).alias("_v"))
        .where(F.col("_v").isNotNull())
        .select(
            *[F.when(failed, F.col(c)).alias(c) for c in carry],
            rule.alias("rule_id"),
            F.col("_v.observed_value").alias("observed_value"),
            F.when(~failed, F.col(DOC_OK)).alias(DOC_OK),
        )
    )


def validate(
    df: DataFrame,
    ruleset: RuleSet,
    key: str = "url",
    violation_cols: list[str] | None = None,
    observe: bool = False,
) -> ValidationResult:
    """Evaluate ``ruleset`` over ``df``.

    The rule Columns come from the RuleSet's memoized compile
    (:func:`rule_columns`): the first call on a RuleSet builds them, every
    later one reuses them and only assembles DataFrames; no Spark job runs
    here. One projection computes every rule boolean; ``_doc_ok`` is their
    conjunction (NULL counts as failed). ``violations`` and
    ``partition_summary`` are both read from one checkpoint of
    :func:`compact_frame` over that projection, taken on the first access
    to either (:class:`ValidationResult`), so each rule runs once per row
    however many of them the caller runs.

    ``violation_cols``: extra input columns carried through onto each
    violation row (e.g. the partition column for partitioned sinks). They
    ride the same single pass — never join violations back to the input to
    recover context columns; at 10^12 rows that join is a full second scan
    plus a key shuffle.
    """
    ruleset.check_schema(df)
    verdicts = with_verdicts(df, ruleset)

    observation: Optional[Observation] = None
    if observe:
        observation = Observation()
        verdicts = verdicts.observe(
            observation,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((~F.col(DOC_OK)).cast("long")).alias("n_failed_docs"),
            *[
                F.sum((~F.coalesce(F.col(name), F.lit(False))).cast("long")).alias(
                    f"viol_{name[len(OK_PREFIX):-len(OK_SUFFIX)]}"
                )
                for name in rule_columns(ruleset).verdicts
            ],
        )

    extra = violation_cols or []
    carry = [key, *[c for c in extra if c != key]]
    return ValidationResult(
        verdicts=verdicts,
        compact=compact_frame(verdicts, ruleset, *carry),
        violation_columns=[key, "rule_id", "observed_value", *extra],
        observation=observation,
    )


def split_valid(
    df: DataFrame, ruleset: RuleSet, key: str = "url"
) -> tuple[DataFrame, DataFrame]:
    """Quarantine flow: ``(clean, quarantined)`` — rows passing every rule
    vs rows failing any, both with the original schema. Two filters over
    the same lazy ``verdicts`` plan: each write of one of them is its own
    action, with its own scan and its own evaluation of every rule, so
    writing both reads the input twice. Nothing is cached between them."""
    res = validate(df, ruleset, key=key)
    drop = [ok_col_name(r) for r in ruleset.rule_ids()] + [DOC_OK]
    clean = res.verdicts.where(F.col(DOC_OK)).drop(*drop)
    quarantined = res.verdicts.where(~F.col(DOC_OK)).drop(*drop)
    return clean, quarantined


def repaired(df: DataFrame, ruleset: RuleSet) -> DataFrame:
    """Apply every DefaultAttr rule's decode (null → declared default) to
    its column — the reference's decode-returns-the-coalesced-value
    semantics (parser.clj:279-283) as a repair projection."""
    from xmlschemavalidator_spark.rules.attributes import DefaultAttr

    out = df
    for rule in ruleset.resolved_rules():
        if isinstance(rule.rule, DefaultAttr) and rule.column in df.columns:
            out = out.withColumn(rule.column, rule.rule.decoded(F.col(rule.column)))
    return out


def with_status(df: DataFrame, ruleset: RuleSet, value_columns: list[str]) -> DataFrame:
    """Inline ``{value, status}`` decoration — the reference's ``with-status``
    (parser.clj:384-400): for each requested column, a struct of the value and
    the AND of every rule bound to that column."""
    compiled = ruleset.compile()
    by_col: dict[str, Column] = {}
    for rule in ruleset.resolved_rules():
        if rule.column in value_columns:
            c = compiled[rule.rule_id]
            by_col[rule.column] = c if rule.column not in by_col else by_col[rule.column] & c
    out = df
    for name in value_columns:
        status = by_col.get(name, F.lit(True))
        out = out.withColumn(
            f"{name}_status", F.struct(F.col(name).alias("value"), status.alias("status"))
        )
    return out


def migration_delta(
    df: DataFrame,
    old_ruleset: RuleSet,
    new_ruleset: RuleSet,
    key: str = "url",
) -> DataFrame:
    """Contract-migration impact: which rows flip validity when the
    ruleset moves from ``old_ruleset`` (deployed) to ``new_ruleset``
    (proposed)?

    The pre-deployment question every schema/contract change raises —
    "how many currently-passing docs does v2 reject, and which rule is
    responsible" — answered in ONE narrow projection: both versions'
    rules are compiled into the same select (Catalyst shares common
    subtrees for unchanged rules), rows where the doc-level verdict
    flips are kept, everything else is filtered out before any data
    moves. No shuffle, no second scan, output is O(#flipped rows).

    Returns ``(key, ok_old, ok_new, change, newly_failed)`` where
    ``change`` is ``'tightened'`` (passed v1, fails v2) or
    ``'loosened'``, and ``newly_failed`` is the comma-joined sorted list
    of v2 rules that fail where the same-id v1 rule passed (or where v2
    introduced the rule) — empty for loosened rows by construction.

    Reference analogue: re-validating a corpus after ``extend``-ing a
    schema (core.clj complexContent/extension semantics); this is the
    dataset-level diff of the two ``valid?`` folds.
    """
    old_c = old_ruleset.compile()
    new_c = new_ruleset.compile()

    def _conj(compiled: dict[str, Column]) -> Column:
        ok = F.lit(True)
        for c in compiled.values():
            # NULL == failed, same coalesce as validate()/_doc_ok
            ok = ok & F.coalesce(c, F.lit(False))
        return ok

    frags = []
    for rid in sorted(new_c):
        new_fail = ~F.coalesce(new_c[rid], F.lit(False))
        if rid in old_c:
            cond = new_fail & F.coalesce(old_c[rid], F.lit(False))
        else:
            cond = new_fail  # rule introduced by v2
        frags.append(F.when(cond, F.lit(rid)))

    return (
        df.select(
            F.col(key),
            _conj(old_c).alias("ok_old"),
            _conj(new_c).alias("ok_new"),
            # concat_ws skips NULLs: only firing rule ids survive
            F.concat_ws(",", F.array(*frags)).alias("newly_failed"),
        )
        .where(F.col("ok_old") != F.col("ok_new"))
        .withColumn(
            "change",
            F.when(F.col("ok_old") & ~F.col("ok_new"), F.lit("tightened")).otherwise(
                F.lit("loosened")
            ),
        )
    )


def expectation_summary(
    df: DataFrame,
    ruleset: RuleSet,
    mostly: dict[str, float] | None = None,
    default_mostly: float = 1.0,
    by: list[str] | None = None,
) -> DataFrame:
    """Great-Expectations-style tolerance verdicts: a rule's *suite*
    verdict passes when its row-level pass RATE meets the declared
    ``mostly`` threshold (``expect_column_values_to_... (mostly=0.95)``),
    instead of the strict every-row AND the reference's ``valid?``
    computes.

    At web scale a strict all-rows gate is useless for soft rules (one
    mojibake doc out of 10^12 fails the corpus); the operational gate is
    "≥ X% of rows conform". ONE aggregate (:func:`_rule_failures`)
    counts every rule's failures (map-side partials, O(#rules) longs per
    partition reach the shuffle), then ``stack()`` renders the per-rule
    report with ``n_pass = n_rows − n_fail`` — never one job per rule.

    Returns one row per rule: ``(rule_id, n_rows, n_pass, pass_rate,
    mostly, ok)``; ``pass_rate`` rounded 6dp for hash-stable compare,
    ``ok`` decided on the UNROUNDED ratio.

    ``by`` turns the report per-segment ("which slice is broken" — the
    Deequ/GE drill-down): one row per (segment, rule), same ONE
    aggregate shape with the segment columns as grouping keys (map-side
    partials; #segments × #rules rows reach the shuffle, never data).
    """
    by = by or []
    mostly = mostly or {}
    target = F.create_map(*[
        F.lit(x)
        for r in sorted(ruleset.compile())
        for x in (r, float(mostly.get(r, default_mostly)))
    ])[F.col("rule_id")]
    n_pass = F.col("n_rows") - F.col("n_fail")
    return _rule_failures(df, ruleset, by).select(
        *by,
        "rule_id",
        "n_rows",
        n_pass.alias("n_pass"),
        F.round(n_pass / F.col("n_rows"), 6).alias("pass_rate"),
        target.alias("mostly"),
        (n_pass / F.col("n_rows") >= target).alias("ok"),
    )


def _rule_failures(df: DataFrame, ruleset: RuleSet, by: list[str]) -> DataFrame:
    """``(*by, rule_id, n_fail, n_rows)``, one row per rule (per segment)
    in sorted id order, from ONE aggregate over one scan: ``n_rows`` and
    each rule's failures ``_f_i`` — #rules longs per partition (per
    segment) reach the shuffle — then ``stack()`` renders the per-rule
    rows. NULL verdicts count as failed, same convention as validate()."""
    compiled = ruleset.compile()
    rids = sorted(compiled)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    aggs += [
        F.sum((~F.coalesce(compiled[r], F.lit(False))).cast("long"))
        .cast("bigint")
        .alias(f"_f_{i}")
        for i, r in enumerate(rids)
    ]
    agg = df.groupBy(*by).agg(*aggs) if by else df.agg(*aggs)
    stack = ", ".join(f"'{r}', _f_{i}" for i, r in enumerate(rids))
    return agg.select(
        *by, F.expr(f"stack({len(rids)}, {stack}) AS (rule_id, n_fail)"), "n_rows"
    )


def _rule_pair_failures(df: DataFrame, ruleset: RuleSet) -> DataFrame:
    """``(rule_a, rule_b, n_fail_a, n_fail_b, n_both, n_rows)``, one row
    per unordered pair of rules in sorted id order, from ONE aggregate over
    one scan: ``n_rows``, each rule's failures ``_f_i`` and each pair's
    joint failures ``_b_i_j`` — k + k(k−1)/2 longs per partition reach
    the shuffle (k = #rules, bounded by the ruleset, never by data) — then
    ``stack()`` renders the pair table from that single row, never a join.
    NULL verdicts count as failed, same convention as validate(). Fewer
    than two rules have no pair: ValueError, not an empty ``stack(0, )``."""
    compiled = ruleset.compile()
    rids = sorted(compiled)
    if len(rids) < 2:
        raise ValueError("rule pairs: need ≥2 SQL-compilable rules")
    fails = [(~F.coalesce(compiled[r], F.lit(False))).cast("long") for r in rids]
    pairs = list(itertools.combinations(range(len(rids)), 2))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    aggs += [F.sum(f).cast("bigint").alias(f"_f_{i}") for i, f in enumerate(fails)]
    aggs += [
        F.sum(fails[i] * fails[j]).cast("bigint").alias(f"_b_{i}_{j}") for i, j in pairs
    ]
    stack = ", ".join(
        f"'{rids[i]}', '{rids[j]}', _f_{i}, _f_{j}, _b_{i}_{j}" for i, j in pairs
    )
    return df.agg(*aggs).select(
        F.expr(
            f"stack({len(pairs)}, {stack})"
            " AS (rule_a, rule_b, n_fail_a, n_fail_b, n_both)"
        ),
        "n_rows",
    )


def rule_cooccurrence(df: DataFrame, ruleset: RuleSet) -> DataFrame:
    """Pairwise rule-failure co-occurrence — the root-cause question a
    violation report raises next: "do these rules fail on the SAME rows
    (one upstream defect) or independently (two defects)?".

    For every unordered rule pair, counts rows failing both and scores
    association: ``lift`` = P(both) / (P(a)·P(b)) (>1 ⇒ failures
    co-locate) and failure-set ``jaccard``. The counts come from
    :func:`_rule_pair_failures` (one aggregate over one scan).

    ``lift`` is NULL when either marginal is zero and ``jaccard`` when
    both are (association undefined — never a divide-by-zero under ANSI
    mode).
    """
    out = _rule_pair_failures(df, ruleset)
    both = F.col("n_both").cast("double")
    denom_l = F.col("n_fail_a") * F.col("n_fail_b")
    denom_j = F.col("n_fail_a") + F.col("n_fail_b") - F.col("n_both")
    return out.select(
        "rule_a",
        "rule_b",
        "n_rows",
        "n_fail_a",
        "n_fail_b",
        "n_both",
        F.when(
            denom_l > 0, F.round(both * F.col("n_rows") / denom_l, 6)
        ).alias("lift"),
        F.when(denom_j > 0, F.round(both / denom_j, 6)).alias("jaccard"),
    )


def violation_examples(
    violations: DataFrame,
    k: int = 5,
    key_col: str = "doc_id",
    salt: str = "vex",
) -> DataFrame:
    """Deterministic per-rule violation EXAMPLES — the triage view every
    validation report needs beside the counts: for each ``rule_id``,
    exactly min(k, #violations) rows sampled content-addressed
    (md5-ranked on (salt, key), so the same examples surface on every
    run, engine, and retry — a rerun of the report never churns the
    examples a human is mid-investigating). Input is the standard
    violations frame (``key, rule_id, observed_value``); output adds
    ``example_rank`` (1-based).

    Scale shape: ONE window partitioned by rule_id ordered by the md5
    rank — but never a full sort of the violations: row_number over the
    rule partition with a rank <= k filter is Spark's standard
    windowed top-k (the per-rule partitions are the unit, and a
    pathological all-rows-one-rule input degrades to that rule's
    partition, exactly like every grouped top-k here). For reports over
    10^12 violations pre-filter to the rules under triage."""
    from pyspark.sql import Window

    from xmlschemavalidator_spark.textops import portable_hash64

    if k < 1:
        raise ValueError(f"violation_examples: k={k}")
    rank_key = portable_hash64(
        F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))
    )
    w = Window.partitionBy("rule_id").orderBy(
        rank_key.asc(), F.col(key_col).asc()
    )
    return (
        violations.withColumn("example_rank", F.row_number().over(w))
        .where(F.col("example_rank") <= k)
    )


def rule_rate_intervals(
    df: DataFrame,
    ruleset: RuleSet,
    slo_fail_micro: int = 10_000,
    z_milli: int = 1960,
    round_to: int = 6,
) -> DataFrame:
    """Wilson score intervals on per-rule FAILURE rates against an SLO —
    the uncertainty-aware release gate :func:`expectation_summary`'s
    point estimate can't provide on small segments: a 2/100 failure
    rate and a 20,000/1,000,000 one are both "2%", but only the second
    confidently breaches a 1% SLO. One row per rule: ``(rule_id,
    n_rows, n_fail, fail_rate, ci_lo, ci_hi, breaches_slo)`` where
    ``breaches_slo`` = the WHOLE interval sits above
    ``slo_fail_micro``/1e6 (ci_lo > slo) — the conservative alarm that
    doesn't page on noise.

    Wilson (not Wald — Wald collapses to ±0 at p=0 and lies at small
    n): (p + z²/2n ± z·√(p(1−p)/n + z²/4n²)) / (1 + z²/n), a fixed
    double chain on exact integer counts from the engine's standard ONE
    aggregate (:func:`_rule_failures`).
    ``z_milli`` integer (1960 = 95%) so the width can't drift between
    engines. An empty input (``n_rows`` 0) has no rate: ``fail_rate``,
    ``ci_lo``, ``ci_hi`` and ``breaches_slo`` are NULL, as
    :func:`expectation_summary`'s ``pass_rate`` and ``ok`` are, never a
    divide-by-zero under ANSI mode."""
    long = _rule_failures(df, ruleset, [])
    z = F.lit(z_milli / 1000.0)
    # n is NULL when n_rows is 0, so every term below is NULL; the bounds
    # are guarded too because greatest/least skip a NULL argument
    nonempty = F.col("n_rows") > 0
    n = F.when(nonempty, F.col("n_rows").cast("double"))
    p = F.col("n_fail").cast("double") / n
    z2n = z * z / n
    center = (p + z2n / F.lit(2.0)) / (F.lit(1.0) + z2n)
    half = (
        z
        * F.sqrt(p * (F.lit(1.0) - p) / n + z * z / (F.lit(4.0) * n * n))
        / (F.lit(1.0) + z2n)
    )
    lo = F.when(nonempty, F.greatest(center - half, F.lit(0.0)))
    hi = F.when(nonempty, F.least(center + half, F.lit(1.0)))
    slo = F.lit(slo_fail_micro / 1e6)
    return long.select(
        "rule_id",
        "n_rows",
        "n_fail",
        F.round(p, round_to).alias("fail_rate"),
        F.round(lo, round_to).alias("ci_lo"),
        F.round(hi, round_to).alias("ci_hi"),
        (lo > slo).alias("breaches_slo"),
    )


def rule_cofire(df: DataFrame, ruleset: RuleSet) -> DataFrame:
    """Rule co-violation matrix — the redundancy/causality view over a
    ruleset the per-rule counts can't give: two rules that always fail
    TOGETHER are one constraint written twice (drop one, or they share
    an upstream cause); a rule whose failures are a strict subset of
    another's is implied by it. One row per unordered pair (rule_a <
    rule_b): ``(rule_a, rule_b, n_rows, n_fail_a, n_fail_b, n_both,
    jaccard_micro, conf_a_to_b_micro, conf_b_to_a_micro)`` — Jaccard of
    the two failure sets and both implication confidences
    (P(b fails | a fails)), all integer floor-division micros on exact
    counts.

    The counts come from :func:`_rule_pair_failures`, the same one
    aggregate as :func:`rule_cooccurrence` (10 rules = 55 longs per
    partition).

    Reference scope note: the reference validates one record at a time
    (core.clj:263-285) and its decode reports per-rule status
    (parser.clj:345-375); the co-fire MATRIX over a corpus is the
    north-rule dataset view of that same status vocabulary.
    """
    long = _rule_pair_failures(df, ruleset)
    union = F.col("n_fail_a") + F.col("n_fail_b") - F.col("n_both")
    return long.select(
        "rule_a",
        "rule_b",
        "n_rows",
        "n_fail_a",
        "n_fail_b",
        "n_both",
        F.when(
            union > 0, F.expr("(n_both * 1000000) div (n_fail_a + n_fail_b - n_both)")
        ).alias("jaccard_micro"),
        F.when(
            F.col("n_fail_a") > 0, F.expr("(n_both * 1000000) div n_fail_a")
        ).alias("conf_a_to_b_micro"),
        F.when(
            F.col("n_fail_b") > 0, F.expr("(n_both * 1000000) div n_fail_b")
        ).alias("conf_b_to_a_micro"),
    )

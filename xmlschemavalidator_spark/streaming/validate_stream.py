"""Streaming validation: compiled rulesets over Structured Streaming.

Because the engine compiles rules to pure Column expressions (stateless,
narrow), the SAME RuleSet runs unchanged on a streaming DataFrame — the
rule projection is a map-only stage, so the stream has no state store at
all for row-level validation. Dataset-level monitoring (violation rates
per window) adds a watermarked windowed aggregation — Spark's incremental
hash-agg state, mergeable and bounded by the watermark horizon.

This mirrors the reference's compile-once/apply-many contract
(README.md:62-67): compilation happens once on the driver, and the rule
Columns are cached with the RuleSet (engine.rule_columns), so micro-batches
reuse the same expressions and the same generated code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xmlschemavalidator_spark.compiler import RuleSet
from xmlschemavalidator_spark.engine import explode_failures, with_verdicts


def stream_validate(stream_df: DataFrame, ruleset: RuleSet) -> DataFrame:
    """Per-row verdicts on a streaming DataFrame: the input columns plus
    one boolean per rule and the ``_doc_ok`` conjunction. Stateless
    (append mode); keying is the caller's concern — every input column is
    carried through. A rule yielding NULL counts as failed in ``_doc_ok``,
    exactly as in the batch engine: both take their verdict columns from
    engine.with_verdicts."""
    return with_verdicts(stream_df, ruleset)


def stream_violations(stream_df: DataFrame, ruleset: RuleSet, key: str) -> DataFrame:
    """Long violation rows (key, rule_id, observed_value) as a stream —
    the SAME core as the batch engine (engine.explode_failures), so batch
    and streaming semantics cannot drift."""
    return explode_failures(stream_df, ruleset, key)


def windowed_violation_counts(
    stream_df: DataFrame,
    ruleset: RuleSet,
    ts_col: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Per-(event-time window, rule) violation counts with late-data
    handling: watermark bounds the agg state; output is append-complete
    per closed window."""
    exploded = explode_failures(stream_df.withWatermark(ts_col, watermark), ruleset, ts_col)
    return exploded.groupBy(
        F.window(F.col(ts_col), window).alias("w"), F.col("rule_id")
    ).agg(F.count(F.lit(1)).alias("n_violations")).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "rule_id",
        "n_violations",
    )


def session_violation_bursts(
    stream_df: DataFrame,
    ruleset: RuleSet,
    ts_col: str,
    gap: str = "30 seconds",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Violation BURSTS via event-time session windows: consecutive
    violations closer than ``gap`` merge into one session row
    ``(session_start, session_end, n_violations)``. A burst of schema
    violations usually means one bad upstream deploy/crawl segment — the
    session boundary localizes it in time better than fixed windows.
    Session-window state is merged incrementally and closed by the
    watermark (bounded state)."""
    exploded = explode_failures(stream_df.withWatermark(ts_col, watermark), ruleset, ts_col)
    # streaming session windows need a companion grouping key (a global
    # session agg is unsupported) — per-rule sessions are also the more
    # useful diagnostic: bursts localize to the rule that fired
    return (
        exploded.groupBy(
            F.session_window(F.col(ts_col), gap).alias("s"), F.col("rule_id")
        )
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "rule_id",
            "n_violations",
        )
    )


def stream_referential(
    stream_df: DataFrame,
    fk_col: str,
    dim_df: DataFrame,
    pk_col: str,
    key: str,
    rule_id: str = "referential",
) -> DataFrame:
    """Referential check on a stream: rows whose foreign key has no match
    in the STATIC dimension table become violation rows
    ``(key, rule_id, observed_value)``.

    Stream-static joins are stateless in Structured Streaming — the dim is
    broadcast per micro-batch, no state store, so this composes with the
    rule projection in append mode. NULL foreign keys never equal any dim
    key, so the anti join emits them as violations too — the right
    semantics for a required FK.
    """
    dim_keys = F.broadcast(dim_df.select(F.col(pk_col).alias("_pk")).distinct())
    missing = stream_df.join(
        dim_keys, on=stream_df[fk_col] == dim_keys["_pk"], how="left_anti"
    )
    return missing.select(
        F.col(key),
        F.lit(rule_id).alias("rule_id"),
        F.col(fk_col).cast("string").alias("observed_value"),
    )

"""The flagship validation job: the full web-page ruleset of FIXTURES.md §2
applied to the input_hint pages table in one pass, plus dataset-level checks.

This is the engine's headline workload (the north-rule metric is validated
docs/sec through THIS job): row-level facet rules + the byte-identical
extraction invariant fused into a single projection; uniqueness, referential,
stats, and drift as separate (aggregate) passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from xmlschemavalidator_spark.compiler import ExprRule, FieldRule, RuleSet
from xmlschemavalidator_spark.datagen import _HTML_PREFIX, _HTML_SUFFIX
from xmlschemavalidator_spark.engine import ValidationResult, validate
from xmlschemavalidator_spark.rules.attributes import RequiredAttr
from xmlschemavalidator_spark.rules.facets import (
    Enumeration,
    MaxInclusive,
    MinInclusive,
    Pattern,
)
from xmlschemavalidator_spark.rules.types import Restriction

# SQL form of datagen.extract_text — keeps the invariant rule inside the
# single whole-stage-codegen projection (no UDF in the hot path).
EXTRACT_SQL = (
    f"substring(decode(html, 'UTF-8'), {len(_HTML_PREFIX) + 1}, "
    f"length(decode(html, 'UTF-8')) - {len(_HTML_PREFIX) + len(_HTML_SUFFIX)})"
)

LANG_ENUM = ("en", "de", "sv", "fr", "zh")


def web_ruleset(max_chars: int = 1_000_000) -> RuleSet:
    """The FIXTURES.md §2 ruleset over the pages table."""
    return RuleSet(
        rules=[
            # lang ∈ enum after null→default coalescing (attribute default=,
            # parser.clj:279-283 + enumeration core.clj:43-44)
            FieldRule(
                "lang_enum",
                Restriction(facets=tuple(Enumeration(v) for v in LANG_ENUM)),
                column="lang",
            ),
            # url required + https pattern (use="required" parser.clj:289-293
            # + anchored pattern core.clj:49-50)
            FieldRule("url_required", RequiredAttr(), column="url"),
            FieldRule("url_https", Pattern(r"https://[^ ]+"), column="url"),
            # text length range (minInclusive/maxInclusive core.clj:46-47)
            FieldRule(
                "chars_range",
                Restriction(
                    base="integer",
                    facets=(MinInclusive(1), MaxInclusive(max_chars)),
                ),
                column="length(text)",
                observed="length(text)",
            ),
            # warc_ts present (required attribute)
            FieldRule("ts_required", RequiredAttr(), column="warc_ts"),
            # byte-identical extraction invariant (input_hint; the per-row
            # analogue of decode's value-round-trip, core.clj:274-276)
            FieldRule(
                "extract_invariant",
                ExprRule(f"{EXTRACT_SQL} = coalesce(text, '')"),
                observed="substring(decode(html, 'UTF-8'), 1, 64)",
            ),
        ]
    )


# one ruleset for every run_flagship call, so its compile is reused
_WEB_RULESET = web_ruleset()


def run_flagship(df: DataFrame, key: str = "url") -> ValidationResult:
    """Apply the web ruleset — one narrow pass for verdicts + violations."""
    return validate(df, _WEB_RULESET, key=key)


def documents_ruleset() -> RuleSet:
    """The same rule vocabulary bound to the driver's ``documents`` table
    (doc_id, text, lang, source, n_chars) — used by the sf-scaled
    correctness gate (TESTDATA.md / FIXTURES.md §5)."""
    return RuleSet(
        rules=[
            FieldRule(
                "lang_enum",
                Restriction(facets=tuple(Enumeration(v) for v in ("en", "de", "sv", "fr", "zh"))),
                column="lang",
            ),
            FieldRule(
                "chars_range",
                Restriction(base="integer", facets=(MinInclusive(36), MaxInclusive(4200))),
                column="n_chars",
            ),
            FieldRule("source_pattern", Pattern(r"src[0-9]+"), column="source"),
            FieldRule("text_required", RequiredAttr(), column="text"),
            FieldRule(
                "nchars_consistent", ExprRule("n_chars = length(text)"), observed="n_chars"
            ),
        ]
    )

"""Value facets — scalar predicates over a single column.

Reference semantics (SURVEY.md §2.1):

* range facets — min/maxInclusive (core.clj:46-47,56-57), min/maxExclusive
  (parser.clj:140-143, v2 only);
* ``enumeration`` — equality, multiple enumeration facets are OR'd while every
  other facet combination is AND'd (core.clj:66-71, parser.clj:154-158);
* ``pattern`` — Java ``String.matches``: a **full-string anchored** regex
  (core.clj:49-50, parser.clj:150-151). Spark's ``rlike`` is substring-match,
  so we anchor with ``^(?:...)$`` explicitly;
* length facets — ``length`` (parser.clj:144-145), ``minLength``/``maxLength``.
  The reference v2 has a copy-paste bug (both use ``>``, parser.clj:146-149);
  v1 implements the spec (``>=`` / ``<=``, core.clj:60-61). We implement the
  spec and document the divergence here.

Each facet compiles to a boolean Catalyst ``Column``; a null input value
yields ``false`` (null never satisfies a facet — matching the reference,
where a nil value fails the predicate rather than erroring).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Facet:
    """Base class for all value facets."""

    def to_column(self, col: Column) -> Column:  # pragma: no cover - abstract
        raise NotImplementedError

    def sql_expr(self, col_sql: str) -> str:  # pragma: no cover - abstract
        """Render an equivalent ANSI-SQL boolean expression (for oracles/docs)."""
        raise NotImplementedError

    @property
    def is_enumeration(self) -> bool:
        return False


def _null_safe(pred: Column) -> Column:
    """A facet over a null value is false, never null (three-valued logic
    would otherwise poison conjunctions)."""
    return F.coalesce(pred, F.lit(False))


def _sql_null_safe(expr: str) -> str:
    """SQL mirror of :func:`_null_safe`: without it, compile_sql() oracles
    evaluate to NULL where the Spark verdict is FALSE on null input — the
    generated SQL must be EQUIVALENT, not merely similar."""
    return f"coalesce({expr}, FALSE)"


def sql_lit(value: Any) -> str:
    """The engine's one SQL literal renderer, for the DuckDB/ANSI oracle
    SQL. A string is single-quoted with embedded quotes doubled (standard
    strings process no backslash escapes, so a regex keeps its backslashes
    raw); a bool renders as TRUE/FALSE; any other value as its ``repr``."""
    if isinstance(value, str):
        escaped = value.replace("'", "''")
        return f"'{escaped}'"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    return repr(value)


@dataclass(frozen=True)
class MinInclusive(Facet):
    """value >= k  (core.clj:46-47,56; parser.clj:136-137)."""

    value: Any

    def to_column(self, col: Column) -> Column:
        return _null_safe(col >= F.lit(self.value))

    def sql_expr(self, col_sql: str) -> str:
        return _sql_null_safe(f"({col_sql} >= {sql_lit(self.value)})")


@dataclass(frozen=True)
class MaxInclusive(Facet):
    """value <= k  (core.clj:47,57; parser.clj:138-139)."""

    value: Any

    def to_column(self, col: Column) -> Column:
        return _null_safe(col <= F.lit(self.value))

    def sql_expr(self, col_sql: str) -> str:
        return _sql_null_safe(f"({col_sql} <= {sql_lit(self.value)})")


@dataclass(frozen=True)
class MinExclusive(Facet):
    """value > k  (parser.clj:140-141, v2 only)."""

    value: Any

    def to_column(self, col: Column) -> Column:
        return _null_safe(col > F.lit(self.value))

    def sql_expr(self, col_sql: str) -> str:
        return _sql_null_safe(f"({col_sql} > {sql_lit(self.value)})")


@dataclass(frozen=True)
class MaxExclusive(Facet):
    """value < k  (parser.clj:142-143, v2 only)."""

    value: Any

    def to_column(self, col: Column) -> Column:
        return _null_safe(col < F.lit(self.value))

    def sql_expr(self, col_sql: str) -> str:
        return _sql_null_safe(f"({col_sql} < {sql_lit(self.value)})")


@dataclass(frozen=True)
class Enumeration(Facet):
    """value = k; multiple Enumeration facets in one restriction are OR'd
    (core.clj:43-44,58 + the OR-vs-AND switch at core.clj:66-71)."""

    value: Any

    def to_column(self, col: Column) -> Column:
        return _null_safe(col == F.lit(self.value))

    def sql_expr(self, col_sql: str) -> str:
        return _sql_null_safe(f"({col_sql} = {sql_lit(self.value)})")

    @property
    def is_enumeration(self) -> bool:
        return True


@dataclass(frozen=True)
class Pattern(Facet):
    """Full-string anchored regex match (Java ``String.matches``,
    core.clj:49-50). Spark ``rlike``/``regexp_like`` is substring-match, so
    the pattern is wrapped in ``^(?:...)$``."""

    pattern: str

    @property
    def anchored(self) -> str:
        return f"^(?:{self.pattern})$"

    def to_column(self, col: Column) -> Column:
        return _null_safe(col.cast("string").rlike(self.anchored))

    def sql_expr(self, col_sql: str) -> str:
        # DuckDB regexp_full_match == Java String.matches semantics.
        return _sql_null_safe(f"regexp_full_match(CAST({col_sql} AS VARCHAR), {sql_lit(self.pattern)})")


@dataclass(frozen=True)
class Length(Facet):
    """len(str(value)) == k  (parser.clj:144-145, v2 only)."""

    value: int

    def to_column(self, col: Column) -> Column:
        return _null_safe(F.length(col.cast("string")) == F.lit(self.value))

    def sql_expr(self, col_sql: str) -> str:
        return _sql_null_safe(f"(length(CAST({col_sql} AS VARCHAR)) = {self.value})")


@dataclass(frozen=True)
class MinLength(Facet):
    """len >= k per XSD spec (v1: core.clj:52-53,60). Reference v2 diverges
    (uses strict ``>``, parser.clj:146-147 — a bug); we implement the spec."""

    value: int

    def to_column(self, col: Column) -> Column:
        return _null_safe(F.length(col.cast("string")) >= F.lit(self.value))

    def sql_expr(self, col_sql: str) -> str:
        return _sql_null_safe(f"(length(CAST({col_sql} AS VARCHAR)) >= {self.value})")


@dataclass(frozen=True)
class MaxLength(Facet):
    """len <= k per XSD spec (v1: core.clj:61). Reference v2 diverges
    (copy-paste ``>``, parser.clj:148-149 — a bug); we implement the spec."""

    value: int

    def to_column(self, col: Column) -> Column:
        return _null_safe(F.length(col.cast("string")) <= F.lit(self.value))

    def sql_expr(self, col_sql: str) -> str:
        return _sql_null_safe(f"(length(CAST({col_sql} AS VARCHAR)) <= {self.value})")


_DECIMAL_LEXICAL = r"^[0-9]+(\.[0-9]*)?$|^\.[0-9]+$"


def _digit_count_parts(col: Column) -> tuple[Column, Column, Column]:
    """(is_decimal_literal, significant int digits, significant frac
    digits) of the value's LEXICAL form — sign stripped, leading zeros of
    the integer part and trailing zeros of the fraction part discarded
    (the canonical decimal representation XSD counts digits over). A
    regex-only canonicalization, so the DuckDB oracle is bit-identical —
    casting through double/decimal formats differently across engines."""
    s = F.regexp_replace(F.trim(col.cast("string")), "^[+-]", "")
    is_dec = s.rlike(_DECIMAL_LEXICAL)
    int_part = F.regexp_extract(s, r"^([0-9]*)", 1)
    frac_part = F.regexp_extract(s, r"\.([0-9]*)$", 1)
    int_n = F.length(F.regexp_replace(int_part, "^0+", ""))
    frac_n = F.length(F.regexp_replace(frac_part, "0+$", ""))
    return is_dec, int_n, frac_n


def _digit_count_parts_sql(col_sql: str) -> tuple[str, str, str]:
    s = f"regexp_replace(trim(CAST({col_sql} AS VARCHAR)), '^[+-]', '')"
    is_dec = f"regexp_matches({s}, '{_DECIMAL_LEXICAL}')"
    int_n = f"length(regexp_replace(regexp_extract({s}, '^([0-9]*)', 1), '^0+', ''))"
    frac_n = f"length(regexp_replace(regexp_extract({s}, '\\.([0-9]*)$', 1), '0+$', ''))"
    return is_dec, int_n, frac_n


@dataclass(frozen=True)
class TotalDigits(Facet):
    """XSD ``totalDigits``: at most k significant decimal digits (XSD 1.0
    §4.3.11; value 0 counts as one digit). Absent from the reference's
    grammar entirely — spec-implemented like list/attributeGroup (the
    'beyond the reference' family in OPERATORS.md). Exponent forms are
    rejected (the lexical space counted is plain decimal literals)."""

    value: int

    def to_column(self, col: Column) -> Column:
        is_dec, int_n, frac_n = _digit_count_parts(col)
        digits = F.greatest(int_n + frac_n, F.lit(1))  # "0" has one digit
        return _null_safe(is_dec & (digits <= F.lit(self.value)))

    def sql_expr(self, col_sql: str) -> str:
        is_dec, int_n, frac_n = _digit_count_parts_sql(col_sql)
        return _sql_null_safe(
            f"({is_dec} AND greatest({int_n} + {frac_n}, 1) <= {self.value})"
        )


@dataclass(frozen=True)
class FractionDigits(Facet):
    """XSD ``fractionDigits``: at most k significant digits after the
    decimal point (trailing zeros don't count — '1.50' has one). Same
    spec-implemented status and lexical canonicalization as
    :class:`TotalDigits`."""

    value: int

    def to_column(self, col: Column) -> Column:
        is_dec, _int_n, frac_n = _digit_count_parts(col)
        return _null_safe(is_dec & (frac_n <= F.lit(self.value)))

    def sql_expr(self, col_sql: str) -> str:
        is_dec, _int_n, frac_n = _digit_count_parts_sql(col_sql)
        return _sql_null_safe(f"({is_dec} AND {frac_n} <= {self.value})")


def combine_facets(facets: list[Facet], col: Column, view=None) -> Column:
    """Combine facet predicates per the reference's combiner
    (core.clj:66-71, parser.clj:154-158): enumeration facets OR together,
    everything else ANDs; the two groups AND with each other. ``view``
    optionally maps each facet to the column view it should compare on
    (Restriction passes its numeric/raw view chooser) — this is THE single
    combiner implementation; Restriction delegates here."""
    cc = (lambda f: f.to_column(view(f))) if view is not None else (lambda f: f.to_column(col))
    enums = [f for f in facets if f.is_enumeration]
    others = [f for f in facets if not f.is_enumeration]
    parts: list[Column] = []
    if enums:
        enum_col = cc(enums[0])
        for f in enums[1:]:
            enum_col = enum_col | cc(f)
        parts.append(enum_col)
    for f in others:
        parts.append(cc(f))
    if not parts:
        return F.lit(True)
    out = parts[0]
    for p in parts[1:]:
        out = out & p
    return out


def combine_facets_sql(facets: list[Facet], col_sql: str, view=None) -> str:
    """SQL rendering of :func:`combine_facets` (same OR-enums/AND-rest rule)."""
    cs = (lambda f: f.sql_expr(view(f))) if view is not None else (lambda f: f.sql_expr(col_sql))
    enums = [f for f in facets if f.is_enumeration]
    others = [f for f in facets if not f.is_enumeration]
    parts: list[str] = []
    if enums:
        parts.append("(" + " OR ".join(cs(f) for f in enums) + ")")
    parts.extend(cs(f) for f in others)
    if not parts:
        return "TRUE"
    return "(" + " AND ".join(parts) + ")"

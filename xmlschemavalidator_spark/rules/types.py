"""Type combinators and the predefined type lattice.

Reference semantics:

* predefined types (core.clj:222-242): ``string`` is ``string?``, the numeric
  family is ``number?`` (core.clj:220), integer subranges are range checks
  **derived** from their base via the ``def-base`` macro (core.clj:17-20)
  which ANDs the new check with the base's check — a derivation chain;
* dynamic leaf typing: values are read with ``read-string`` / the
  number-or-string fallback ``special-read-string`` (parser.clj:14-22), so
  ``"123"`` is a number and fails the ``string`` check. We mirror this with
  ``try_cast`` probes;
* ``restriction`` = base-type check AND facet check (core.clj:66-71,
  parser.clj:306-307);
* ``union`` = ordered first-success over members (compiled as nested
  try/catch in the reference, core.clj:75-78 ``add-try-catch``;
  parser.clj:167-175). For a boolean verdict this collapses to OR; the
  *matched member index* (which the reference surfaces through the returned
  verdict detail) is exposed via :meth:`Union.matched_member_column`;
* type environment: string-keyed name→type map with merge-shadowing
  (core.clj:131-134, parser.clj:200-203 ``types->clj``) —
  :class:`TypeRegistry` below.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Union as TUnion

from pyspark.sql import Column
from pyspark.sql import functions as F

from xmlschemavalidator_spark.rules.facets import (
    Facet,
    Length,
    MaxLength,
    MinLength,
    Pattern,
)

_NUMERIC_RANGE_VIEW = "double"
# doubles represent integers exactly only up to 2^53; range bounds beyond
# that (long, unsignedLong) must compare on DECIMAL or 2^63 would be
# indistinguishable from 2^63-1 and out-of-range values would falsely pass
_SAFE_DOUBLE_INT = 2**53
_BIG_DECIMAL = "decimal(38,6)"


class Type:
    """A compiled type check: the Spark analogue of the reference's
    4-arg closure convention ``(fn [value types attr-groups elements])``
    (core.clj:11 ``fn-of``) — here a factory from Column to boolean Column."""

    def to_column(self, col: Column, registry: Optional["TypeRegistry"] = None) -> Column:
        raise NotImplementedError  # pragma: no cover

    def sql_expr(self, col_sql: str, registry: Optional["TypeRegistry"] = None) -> str:
        raise NotImplementedError  # pragma: no cover


TypeRef = TUnion[Type, str]


def _num(col: Column) -> Column:
    """Numeric view of a possibly-string column — the ``try_cast`` analogue
    of ``special-read-string``'s number-or-string fallback (parser.clj:14-22)."""
    return col.cast("string").try_cast(_NUMERIC_RANGE_VIEW)


def _num_sql(col_sql: str) -> str:
    return f"TRY_CAST(CAST({col_sql} AS VARCHAR) AS DOUBLE)"


@dataclass(frozen=True)
class BuiltinType(Type):
    """A predefined type from the reference lattice (core.clj:222-242).

    ``kind``:
      * ``"string"``  — value is non-null and NOT numeric-parseable
        (read-string types "123" as a number, so string?("123") is false);
      * ``"numeric"`` — value parses as a number;
      * ``"integer"`` — numeric and integral;
      * ``"range"``   — integral and within [lo, hi] (base chain conjunction
        is pre-flattened: every range type implies the integer check).
    """

    name: str
    kind: str
    lo: Optional[int] = None
    hi: Optional[int] = None

    def to_column(self, col: Column, registry: Optional["TypeRegistry"] = None) -> Column:
        num = _num(col)
        if self.kind == "string":
            return col.isNotNull() & num.isNull()
        if self.kind == "numeric":
            return num.isNotNull()
        integral = num.isNotNull() & (num == F.floor(num))
        if self.kind == "integer":
            return integral
        if self.kind == "range":
            if self._needs_decimal():
                dec = col.cast("string").try_cast(_BIG_DECIMAL)
                out = dec.isNotNull() & (dec == F.floor(dec).cast(_BIG_DECIMAL))
                if self.lo is not None:
                    out = out & (dec >= F.lit(str(self.lo)).cast(_BIG_DECIMAL))
                if self.hi is not None:
                    out = out & (dec <= F.lit(str(self.hi)).cast(_BIG_DECIMAL))
                return out
            out = integral
            if self.lo is not None:
                out = out & (num >= F.lit(float(self.lo)))
            if self.hi is not None:
                out = out & (num <= F.lit(float(self.hi)))
            return out
        raise ValueError(f"unknown builtin kind {self.kind!r}")  # pragma: no cover

    def _needs_decimal(self) -> bool:
        return any(
            b is not None and abs(b) > _SAFE_DOUBLE_INT for b in (self.lo, self.hi)
        )

    def sql_expr(self, col_sql: str, registry: Optional["TypeRegistry"] = None) -> str:
        num = _num_sql(col_sql)
        if self.kind == "string":
            return f"({col_sql} IS NOT NULL AND {num} IS NULL)"
        if self.kind == "numeric":
            return f"({num} IS NOT NULL)"
        integral = f"({num} IS NOT NULL AND {num} = floor({num}))"
        if self.kind == "integer":
            return integral
        if self.kind == "range":
            if self._needs_decimal():
                dec = f"TRY_CAST(CAST({col_sql} AS VARCHAR) AS DECIMAL(38,6))"
                parts = [f"({dec} IS NOT NULL AND {dec} = CAST(floor({dec}) AS DECIMAL(38,6)))"]
                if self.lo is not None:
                    parts.append(f"{dec} >= CAST('{self.lo}' AS DECIMAL(38,6))")
                if self.hi is not None:
                    parts.append(f"{dec} <= CAST('{self.hi}' AS DECIMAL(38,6))")
                return "(" + " AND ".join(parts) + ")"
            parts = [integral]
            if self.lo is not None:
                parts.append(f"{num} >= {float(self.lo)!r}")
            if self.hi is not None:
                parts.append(f"{num} <= {float(self.hi)!r}")
            return "(" + " AND ".join(parts) + ")"
        raise ValueError(f"unknown builtin kind {self.kind!r}")  # pragma: no cover


def _range_facet_views(facet: Facet, col: Column) -> Column:
    """Pick the comparison view for one facet: numeric literals compare on the
    try_cast-double view; string literals / length / pattern on the raw value."""
    if isinstance(facet, (Pattern, Length, MinLength, MaxLength)):
        return col
    value = getattr(facet, "value", None)
    if isinstance(value, bool):
        return col
    if isinstance(value, (int, float)):
        return _num(col)
    return col


def _range_facet_views_sql(facet: Facet, col_sql: str) -> str:
    if isinstance(facet, (Pattern, Length, MinLength, MaxLength)):
        return col_sql
    value = getattr(facet, "value", None)
    if isinstance(value, bool):
        return col_sql
    if isinstance(value, (int, float)):
        return _num_sql(col_sql)
    return col_sql


@dataclass(frozen=True)
class Restriction(Type):
    """base-type check AND facet check (core.clj:66-71; parser.clj:306-307).

    Enumeration facets OR together; all other facets AND (core.clj:66-71).
    The base may be a name resolved through the registry at compile time
    (simpleType ``type=`` ref, core.clj:40) or an inline Type.
    """

    base: Optional[TypeRef] = None
    facets: tuple[Facet, ...] = ()

    def to_column(self, col: Column, registry: Optional["TypeRegistry"] = None) -> Column:
        from xmlschemavalidator_spark.rules.facets import combine_facets

        parts: list[Column] = []
        if self.base is not None:
            base_t = registry.resolve(self.base) if isinstance(self.base, str) else self.base
            parts.append(base_t.to_column(col, registry))
        if self.facets:
            parts.append(
                combine_facets(
                    list(self.facets), col, view=lambda f: _range_facet_views(f, col)
                )
            )
        if not parts:
            return F.lit(True)
        out = parts[0]
        for p in parts[1:]:
            out = out & p
        return out

    def sql_expr(self, col_sql: str, registry: Optional["TypeRegistry"] = None) -> str:
        from xmlschemavalidator_spark.rules.facets import combine_facets_sql

        parts: list[str] = []
        if self.base is not None:
            base_t = registry.resolve(self.base) if isinstance(self.base, str) else self.base
            parts.append(base_t.sql_expr(col_sql, registry))
        if self.facets:
            parts.append(
                combine_facets_sql(
                    list(self.facets),
                    col_sql,
                    view=lambda f: _range_facet_views_sql(f, col_sql),
                )
            )
        if not parts:
            return "TRUE"
        return "(" + " AND ".join(parts) + ")"


@dataclass(frozen=True)
class Union(Type):
    """Ordered first-success union (core.clj:75-78,95-107; parser.clj:167-175).

    Boolean verdict collapses to OR; :meth:`matched_member_column` preserves
    the reference's verdict detail — WHICH member accepted the value (the
    reference returns the first passing member's verdict, or the last member's
    failing verdict when none pass).
    """

    members: tuple[TypeRef, ...]

    def __post_init__(self):
        if not self.members:
            raise ValueError("Union requires at least one member type")

    def _member_cols(self, col: Column, registry: Optional["TypeRegistry"]) -> list[Column]:
        out = []
        for m in self.members:
            t = registry.resolve(m) if isinstance(m, str) else m
            out.append(t.to_column(col, registry))
        return out

    def to_column(self, col: Column, registry: Optional["TypeRegistry"] = None) -> Column:
        cols = self._member_cols(col, registry)
        out = cols[0]
        for c in cols[1:]:
            out = out | c
        return out

    def matched_member_column(self, col: Column, registry: Optional["TypeRegistry"] = None) -> Column:
        """Index of the first passing member (ordered first-success), else -1
        — an explicit F.when chain, not a bare OR, so verdict detail matches
        the reference's try/catch chain (core.clj:75-78)."""
        cols = self._member_cols(col, registry)
        expr = F.lit(-1)
        for i in range(len(cols) - 1, -1, -1):
            expr = F.when(cols[i], F.lit(i)).otherwise(expr)
        return expr

    def verdict_struct(self, col: Column, registry: Optional["TypeRegistry"] = None) -> Column:
        """Member-wise failure detail mirroring the reference's try-chain
        (core.clj:75-78): on success the FIRST passing member's verdict is
        returned; on total failure the reference propagates the LAST-tried
        member's failing verdict with the observed value. Returns
        ``struct<ok:boolean, matched_member:int, n_tried:int,
        last_value:string>``:

        * ``matched_member`` — index of the first passing member, −1 if none;
        * ``n_tried`` — members evaluated before stopping (matched_member+1,
          or len(members) on total failure — every member was tried);
        * ``last_value`` — the observed value as the last member saw it,
          populated ONLY on total failure (NULL on success, where the
          matched member's verdict carries no failure payload)."""
        ok = self.to_column(col, registry)
        ok = F.coalesce(ok, F.lit(False))
        mm = self.matched_member_column(col, registry)
        n_tried = F.when(mm >= 0, mm + 1).otherwise(F.lit(len(self.members)))
        last_value = F.when(~ok, col.cast("string"))
        return F.struct(
            ok.alias("ok"),
            mm.alias("matched_member"),
            n_tried.cast("int").alias("n_tried"),
            last_value.alias("last_value"),
        )

    def verdict_struct_sql(self, col_sql: str, registry: Optional["TypeRegistry"] = None) -> dict[str, str]:
        """DuckDB oracle expressions for each :meth:`verdict_struct` field —
        generated from the same member declarations so the driver's
        side-by-side compare exercises the failure detail."""
        member_sqls = []
        for m in self.members:
            t = registry.resolve(m) if isinstance(m, str) else m
            member_sqls.append(t.sql_expr(col_sql, registry))
        ok = "coalesce(" + " OR ".join(member_sqls) + ", FALSE)"
        mm = "CASE " + " ".join(
            f"WHEN {s} THEN {i}" for i, s in enumerate(member_sqls)
        ) + " ELSE -1 END"
        n_tried = f"CAST(CASE WHEN ({mm}) >= 0 THEN ({mm}) + 1 ELSE {len(self.members)} END AS INT)"
        last_value = f"CASE WHEN NOT ({ok}) THEN CAST({col_sql} AS VARCHAR) END"
        return {
            "ok": ok,
            "matched_member": mm,
            "n_tried": n_tried,
            "last_value": last_value,
        }

    def sql_expr(self, col_sql: str, registry: Optional["TypeRegistry"] = None) -> str:
        parts = []
        for m in self.members:
            t = registry.resolve(m) if isinstance(m, str) else m
            parts.append(t.sql_expr(col_sql, registry))
        return "(" + " OR ".join(parts) + ")"


@dataclass(frozen=True)
class ListType(Type):
    """``xs:list itemType=`` — value is a whitespace-separated token list and
    EVERY token must validate against the item type (XSD spec semantics).

    The reference's v2 grammar parses LIST (parser.clj:97) but its transform
    dispatch map has no entry for it (parser.clj:297-326), so it parses-but-
    cannot-execute there; we enforce the spec the grammar declares. An empty
    string is the empty list (valid); NULL is invalid (no value at all).

    Spark form: split → filter empty tokens → ``F.forall`` with the item
    predicate applied to the lambda variable — one HOF pass, stays inside
    whole-stage codegen, no explode/shuffle.
    """

    item: TypeRef

    def _item(self, registry: Optional["TypeRegistry"]) -> Type:
        return registry.resolve(self.item) if isinstance(self.item, str) else self.item

    def to_column(self, col: Column, registry: Optional["TypeRegistry"] = None) -> Column:
        item_t = self._item(registry)
        tokens = F.filter(
            F.split(F.trim(col.cast("string")), r"\s+"), lambda t: t != F.lit("")
        )
        ok = F.forall(tokens, lambda t: item_t.to_column(t, registry))
        return col.isNotNull() & F.coalesce(ok, F.lit(False))

    def sql_expr(self, col_sql: str, registry: Optional["TypeRegistry"] = None) -> str:
        item_t = self._item(registry)
        pred = item_t.sql_expr("t", registry)
        arr = f"regexp_split_to_array(trim(CAST({col_sql} AS VARCHAR)), '\\s+')"
        return (
            f"(({col_sql} IS NOT NULL) AND "
            f"len(list_filter({arr}, t -> t <> '' AND NOT {pred})) = 0)"
        )


@dataclass(frozen=True)
class WhiteSpace(Type):
    """XSD ``whiteSpace`` facet (XSD 1.0 §4.3.6) — semantically a VALUE
    TRANSFORM applied before the inner type/facets, not a predicate:

    * ``preserve`` — identity;
    * ``replace`` — each tab/LF/CR becomes one space;
    * ``collapse`` — replace, then runs of spaces collapse to one and
      leading/trailing whitespace is trimmed.

    Absent from the reference's grammar — spec-implemented like
    list/attributeGroup (OPERATORS.md 'beyond the reference' family)."""

    mode: str
    inner: TypeRef

    def __post_init__(self):
        if self.mode not in ("preserve", "replace", "collapse"):
            raise ValueError(f"whiteSpace mode must be preserve|replace|collapse, got {self.mode!r}")

    def _resolved(self, registry: Optional["TypeRegistry"]) -> Type:
        return registry.resolve(self.inner) if isinstance(self.inner, str) else self.inner

    def _transform(self, col: Column) -> Column:
        s = col.cast("string")
        if self.mode == "preserve":
            return s
        replaced = F.regexp_replace(s, "[\\t\\n\\r]", " ")
        if self.mode == "replace":
            return replaced
        return F.trim(F.regexp_replace(replaced, " +", " "))

    def _transform_sql(self, col_sql: str) -> str:
        s = f"CAST({col_sql} AS VARCHAR)"
        if self.mode == "preserve":
            return s
        replaced = f"regexp_replace({s}, '[\\t\\n\\r]', ' ', 'g')"
        if self.mode == "replace":
            return replaced
        return f"trim(regexp_replace({replaced}, ' +', ' ', 'g'))"

    def to_column(self, col: Column, registry: Optional["TypeRegistry"] = None) -> Column:
        return self._resolved(registry).to_column(self._transform(col), registry)

    def sql_expr(self, col_sql: str, registry: Optional["TypeRegistry"] = None) -> str:
        return self._resolved(registry).sql_expr(self._transform_sql(col_sql), registry)


@dataclass(frozen=True)
class NullOr(Type):
    """Wrap a type so that NULL passes — optional-presence semantics
    (choice alternatives, optional attributes, nullable-column constraint
    suggestions): presence is some OTHER rule's concern."""

    inner: TypeRef

    def _resolved(self, registry: Optional["TypeRegistry"]) -> Type:
        return registry.resolve(self.inner) if isinstance(self.inner, str) else self.inner

    def to_column(self, col: Column, registry: Optional["TypeRegistry"] = None) -> Column:
        return col.isNull() | self._resolved(registry).to_column(col, registry)

    def sql_expr(self, col_sql: str, registry: Optional["TypeRegistry"] = None) -> str:
        return f"(({col_sql} IS NULL) OR {self._resolved(registry).sql_expr(col_sql, registry)})"


class TypeRegistry:
    """name → Type map with merge-shadowing: schema-local types shadow the
    predefined environment exactly as the reference merges type maps at each
    schema scope (core.clj:131-134; parser.clj:200-203 ``types->clj``)."""

    def __init__(self, *layers: dict[str, Type]):
        self._types: dict[str, Type] = {}
        for layer in layers:
            self._types.update(layer)
        # bumped by define(): compiled RuleSets check it to notice that a
        # named type they resolved was rebound in place
        self.version = 0

    def merge(self, local: dict[str, Type]) -> "TypeRegistry":
        reg = TypeRegistry(self._types, local)
        return reg

    def define(self, name: str, t: Type) -> None:
        self._types[name] = t
        self.version += 1

    def resolve(self, name: str) -> Type:
        try:
            return self._types[name]
        except KeyError:
            raise KeyError(
                f"type {name!r} not defined (known: {sorted(self._types)[:20]}...)"
            ) from None

    def __contains__(self, name: str) -> bool:
        return name in self._types

    def names(self) -> list[str]:
        return sorted(self._types)


def _predef() -> dict[str, Type]:
    """The 16 predefined types, base chains pre-flattened (core.clj:222-242)."""
    t: dict[str, Type] = {}
    t["string"] = BuiltinType("string", "string")
    for name in ("float", "double", "decimal"):
        t[name] = BuiltinType(name, "numeric")
    t["integer"] = BuiltinType("integer", "integer")
    t["positiveInteger"] = BuiltinType("positiveInteger", "range", lo=1)
    t["negativeInteger"] = BuiltinType("negativeInteger", "range", hi=-1)
    t["nonPositiveInteger"] = BuiltinType("nonPositiveInteger", "range", hi=0)
    t["nonNegativeInteger"] = BuiltinType("nonNegativeInteger", "range", lo=0)
    t["long"] = BuiltinType("long", "range", lo=-(2**63), hi=2**63 - 1)
    t["int"] = BuiltinType("int", "range", lo=-(2**31), hi=2**31 - 1)
    t["short"] = BuiltinType("short", "range", lo=-32768, hi=32767)
    t["byte"] = BuiltinType("byte", "range", lo=-128, hi=127)
    # unsigned chain: each derived from the previous (core.clj:237-240)
    t["unsignedLong"] = BuiltinType("unsignedLong", "range", lo=0, hi=2**64 - 1)
    t["unsignedInt"] = BuiltinType("unsignedInt", "range", lo=0, hi=4294967295)
    t["unsignedShort"] = BuiltinType("unsignedShort", "range", lo=0, hi=65535)
    t["unsignedByte"] = BuiltinType("unsignedByte", "range", lo=0, hi=255)
    return t


PREDEF_TYPES = TypeRegistry(_predef())

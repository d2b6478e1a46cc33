"""Attribute occurrence operators — null/occurrence semantics (SURVEY.md §2.5).

All v2-only in the reference (v1's ``parse-attribute`` exists at
core.clj:197-202 but is never invoked by its pipeline):

* ``default=``   — nil value → validate (and report) the default
  (parser.clj:279-283; test parser_test.clj:546-549) → ``coalesce`` then rule;
* ``fixed=``     — value must equal the fixed constant; nil fails too
  (parser.clj:284-288; test :550-553);
* ``use="required"`` — nil → ``[false :undefined]`` (parser.clj:289-293;
  test :554-557) → ``isNotNull`` AND rule.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from xmlschemavalidator_spark.rules.facets import sql_lit
from xmlschemavalidator_spark.rules.types import Type, TypeRegistry, TypeRef


def _resolve(t: Optional[TypeRef], registry: Optional[TypeRegistry]) -> Optional[Type]:
    if t is None:
        return None
    return registry.resolve(t) if isinstance(t, str) else t


@dataclass(frozen=True)
class DefaultAttr:
    """null → coalesce to the default, then validate; the decoded value is the
    coalesced one (parser.clj:279-283)."""

    default: Any
    type: Optional[TypeRef] = None

    def decoded(self, col: Column) -> Column:
        return F.coalesce(col, F.lit(self.default))

    def to_column(self, col: Column, registry: Optional[TypeRegistry] = None) -> Column:
        t = _resolve(self.type, registry)
        v = self.decoded(col)
        return t.to_column(v, registry) if t is not None else v.isNotNull()

    def sql_expr(self, col_sql: str, registry: Optional[TypeRegistry] = None) -> str:
        t = _resolve(self.type, registry)
        v = f"coalesce({col_sql}, {sql_lit(self.default)})"
        return t.sql_expr(v, registry) if t is not None else f"({v} IS NOT NULL)"

    def decoded_sql(self, col_sql: str) -> str:
        return f"coalesce({col_sql}, {sql_lit(self.default)})"


@dataclass(frozen=True)
class FixedAttr:
    """value must equal the fixed constant; null fails (parser.clj:284-288)."""

    fixed: Any

    def to_column(self, col: Column, registry: Optional[TypeRegistry] = None) -> Column:
        return F.coalesce(col == F.lit(self.fixed), F.lit(False))

    def sql_expr(self, col_sql: str, registry: Optional[TypeRegistry] = None) -> str:
        return f"coalesce({col_sql} = {sql_lit(self.fixed)}, FALSE)"


@dataclass(frozen=True)
class RequiredAttr:
    """use="required": null → undefined-failure; else validate against the
    attribute's type (parser.clj:289-293)."""

    type: Optional[TypeRef] = None

    def to_column(self, col: Column, registry: Optional[TypeRegistry] = None) -> Column:
        t = _resolve(self.type, registry)
        ok = col.isNotNull()
        if t is not None:
            ok = ok & t.to_column(col, registry)
        return ok

    def sql_expr(self, col_sql: str, registry: Optional[TypeRegistry] = None) -> str:
        t = _resolve(self.type, registry)
        parts = [f"{col_sql} IS NOT NULL"]
        if t is not None:
            parts.append(t.sql_expr(col_sql, registry))
        return "(" + " AND ".join(parts) + ")"

"""Rule compiler: declarative constraints → Catalyst boolean Columns.

The Spark analogue of the reference's compile pipeline
(``schema → parse → AST transform → code-gen → eval → validator-fn``,
core.clj:257-261 / parser.clj:331-341): a :class:`RuleSet` is compiled
**once on the driver** into a dict ``rule_id → Column`` (the reference's
``(partial decode schema)`` pre-compilation idiom, README.md:62-67), then
evaluated per row in executors by :func:`xmlschemavalidator_spark.engine.validate`
— all rule booleans fuse into one projection inside one whole-stage-codegen
pass, so N rules cost a single scan. The compile is memoized on the RuleSet
(:meth:`RuleSet.compiled`): every later ``validate()`` reuses its Columns
until the rules or the type registry change.

Every rule also renders an equivalent ANSI-SQL expression (``sql_expr``) so
each operator is independently checkable against a SQL oracle — preserving
the reference's property that *any grammar fragment is independently
compilable* (``validation-fn-of`` with a start rule, parser.clj:337-341).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xmlschemavalidator_spark.rules.facets import Facet
from xmlschemavalidator_spark.rules.structural import AllRule, ChoiceRule, SequenceRule
from xmlschemavalidator_spark.rules.types import PREDEF_TYPES, TypeRegistry

_STRUCTURAL = (SequenceRule, AllRule, ChoiceRule)


@dataclass(frozen=True)
class ExprRule:
    """Escape hatch: an arbitrary boolean SQL expression over the row.

    Used for cross-column invariants the facet vocabulary can't express —
    e.g. the byte-identical extraction invariant ``extract(html) == text``
    (the per-row analogue of the reference's decode-returns-the-value
    contract, core.clj:274-276). Null-safe: NULL evaluates to False.
    """

    expr: str

    def to_column(self, col: Optional[Column], registry: "TypeRegistry") -> Column:
        return F.coalesce(F.expr(self.expr), F.lit(False))

    def sql_expr(self, col_sql: Optional[str], registry: "TypeRegistry") -> str:
        return f"coalesce({self.expr}, FALSE)"


def compile_rule(rule: Any, col: Optional[Column], registry: TypeRegistry) -> Column:
    """Compile one rule node to a boolean Column.

    Dispatch mirrors the reference's tag→parser dispatch map
    (core.clj:206-218 / parser.clj:297-326), but over Python types.
    """
    if isinstance(rule, str):  # named type ref, e.g. {"type": "byte"}
        rule = registry.resolve(rule)
    if isinstance(rule, _STRUCTURAL):
        return rule.to_column()
    if isinstance(rule, Facet):
        assert col is not None, "facet rules need a column"
        return rule.to_column(col)
    # Type / Union / Restriction / attribute-occurrence rules share the
    # (col, registry) calling convention — the analogue of fn-of's universal
    # 4-arg convention (core.clj:11).
    return rule.to_column(col, registry)


def compile_rule_sql(rule: Any, col_sql: Optional[str], registry: TypeRegistry) -> str:
    if isinstance(rule, str):
        rule = registry.resolve(rule)
    if isinstance(rule, _STRUCTURAL):
        return rule.sql_expr()
    if isinstance(rule, Facet):
        assert col_sql is not None
        return rule.sql_expr(col_sql)
    return rule.sql_expr(col_sql, registry)


@dataclass(frozen=True)
class PandasRule:
    """Arrow-vectorized predicate rule: a ``pd.Series -> bool pd.Series``
    function evaluated as a pandas UDF over whole Arrow batches.

    The escape hatch for checks Catalyst genuinely can't express (model
    scoring, codec probes, third-party validators). Everything else should
    stay a Column expression — a pandas UDF breaks the whole-stage-codegen
    span and pays an Arrow serialization round trip; it is the SLOW path,
    vectorized or not. Null inputs are the function's responsibility; the
    result is null-coalesced to False like every other rule.
    """

    fn: Any  # Callable[[pd.Series], pd.Series]

    def to_column(self, col: Column, registry: "TypeRegistry") -> Column:
        from pyspark.sql.functions import pandas_udf

        ok = pandas_udf(self.fn, "boolean")(col)
        return F.coalesce(ok, F.lit(False))

    def sql_expr(self, col_sql: Optional[str], registry: "TypeRegistry") -> str:
        raise NotImplementedError(
            "PandasRule has no SQL rendering (Python predicate) — register "
            "its query without an oracle (rows-only check)"
        )


@dataclass(frozen=True)
class FieldRule:
    """Binds a rule to a column/expression of the input table — the analogue
    of an element declaration ``name= type=`` (core.clj:80-93): look up the
    type, validate the content, tag the verdict with the element name.

    ``column`` is a column name or SQL expression string (evaluated with
    ``F.expr``); ``None`` for structural rules that reference their own
    fields. ``observed`` optionally overrides the expression reported as
    ``observed_value`` in violation rows. ``is_attr`` marks rules compiled
    from XSD *attribute* declarations — consumers that need to treat
    attribute columns specially (xsd.validate_xml_column's ``_`` column
    remap) must use this flag, never infer from the rule_id string (a
    child element literally named ``attr_<x>`` would be misclassified).
    """

    rule_id: str
    rule: Any
    column: Optional[str] = None
    observed: Optional[str] = None
    is_attr: bool = False

    def ok_column(self, registry: TypeRegistry) -> Column:
        col = F.expr(self.column) if self.column is not None else None
        return compile_rule(self.rule, col, registry)

    def ok_sql(self, registry: TypeRegistry) -> str:
        return compile_rule_sql(self.rule, self.column, registry)

    @property
    def observed_expr(self) -> str:
        if self.observed is not None:
            return self.observed
        if self.column is not None:
            return self.column
        return "NULL"


@dataclass(frozen=True)
class RuleRef:
    """``ref=`` indirection (core.clj:80-93; parser.clj:186-191): a rule that
    delegates to another named rule in the same RuleSet, resolved at compile
    time through the rule registry — the Spark analogue of the reference's
    element-registry lookup."""

    rule_id: str


@dataclass(eq=False)
class Compiled:
    """One compile of a RuleSet: its rule Columns and the snapshot they were
    built from. ``derived`` is what the engine builds from these Columns
    (engine.RuleColumns: verdict, ``_doc_ok`` and violation payload
    Columns), set on first use; it lives exactly as long as they stay valid."""

    rules: tuple[FieldRule, ...]
    registry: TypeRegistry
    registry_version: int
    columns: dict[str, Column]
    derived: Any = None

    def is_current(self, ruleset: "RuleSet") -> bool:
        return (
            self.registry is ruleset.registry
            and self.registry_version == ruleset.registry.version
            and self.rules == tuple(ruleset.rules)
        )


@dataclass
class RuleSet:
    """An ordered, named collection of field rules plus a type environment.

    The registry merge mirrors the reference's schema-scope type-env merge
    (schema-local types shadow predefined ones, core.clj:131-134).
    """

    rules: list[FieldRule] = field(default_factory=list)
    # fresh layer per ruleset: handing out the PREDEF_TYPES singleton would
    # let one ruleset's registry.define() pollute every other ruleset (and
    # the predefined lattice itself) process-wide
    registry: TypeRegistry = field(default_factory=lambda: PREDEF_TYPES.merge({}))

    def add(self, rule: FieldRule) -> "RuleSet":
        self.rules.append(rule)
        return self

    def extend(self, extension: "RuleSet") -> "RuleSet":
        """complexContent/extension semantics (core.clj:177-195 ``ext-and``,
        ``parse-extension``): the extended type validates the base's rules
        AND the extension's rules — rules(extended) = rules(base) ∪
        rules(ext). Extension rules with a base rule's id SHADOW it (the
        type-env merge rule); everything happens at compile time, zero
        runtime cost."""
        by_id = {r.rule_id: r for r in self.rules}
        order = [r.rule_id for r in self.rules]
        for r in extension.rules:
            if r.rule_id not in by_id:
                order.append(r.rule_id)
            by_id[r.rule_id] = r
        # merge only the extension's SCHEMA-LOCAL types (identity-diff vs
        # the predefined lattice): blindly merging all names would let the
        # extension's untouched builtins silently revert a base ruleset's
        # local shadow of a predefined type name
        ext_local = {}
        for name in extension.registry.names():
            t = extension.registry.resolve(name)
            if name not in PREDEF_TYPES or PREDEF_TYPES.resolve(name) is not t:
                ext_local[name] = t
        merged_registry = self.registry.merge(ext_local)
        return RuleSet(rules=[by_id[i] for i in order], registry=merged_registry)

    def introspect(self) -> list[tuple[str, Optional[str]]]:
        """Introspection mode (the reference returns the combined field list
        when called with nil input, core.clj:186-195): (rule_id, column)
        pairs — what the compiled validator would check, without compiling."""
        return [(r.rule_id, r.column) for r in self.rules]

    def _resolve_ref(self, rule: FieldRule, seen: frozenset[str] = frozenset()) -> FieldRule:
        if not isinstance(rule.rule, RuleRef):
            return rule
        target_id = rule.rule.rule_id
        if target_id in seen:
            raise ValueError(f"circular rule ref through {target_id!r}")
        for r in self.rules:
            if r.rule_id == target_id:
                target = self._resolve_ref(r, seen | {target_id})
                return FieldRule(
                    rule_id=rule.rule_id,
                    rule=target.rule,
                    column=rule.column if rule.column is not None else target.column,
                    observed=rule.observed if rule.observed is not None else target.observed,
                )
        raise KeyError(f"rule ref {target_id!r} not found in ruleset")

    def rule_ids(self) -> list[str]:
        return [r.rule_id for r in self.rules]

    def compiled(self) -> Compiled:
        """The memoized compile. Every rule Column is one py4j round trip
        per node, so it is built once and reused by every later call; it is
        rebuilt when the rules (``add()``, in-place list edits) or the
        registry (``define()``, or a new registry) have changed since."""
        cached = getattr(self, "_compiled", None)
        if cached is not None and cached.is_current(self):
            return cached
        snapshot = Compiled(tuple(self.rules), self.registry, self.registry.version, {})
        for r in snapshot.rules:
            if r.rule_id in snapshot.columns:
                raise ValueError(f"duplicate rule_id {r.rule_id!r}")
            snapshot.columns[r.rule_id] = self._resolve_ref(r).ok_column(self.registry)
        self._compiled = snapshot
        return snapshot

    def compile(self) -> dict[str, Column]:
        """rule_id → boolean Column, from the memoized compile. A copy: a
        caller's edit to the dict cannot reach the cache."""
        return dict(self.compiled().columns)

    def __getstate__(self) -> dict:
        # the compiled Columns hold JVM handles: never pickle or deep-copy them
        state = self.__dict__.copy()
        state.pop("_compiled", None)
        return state

    def compile_sql(self) -> dict[str, str]:
        """rule_id → ANSI-SQL boolean expression (oracle rendering).

        Rules with no SQL form (PandasRule — Python predicates) are OMITTED
        rather than failing the whole ruleset: a mixed ruleset still yields
        oracles for every SQL-expressible rule."""
        out: dict[str, str] = {}
        for r in self.rules:
            try:
                out[r.rule_id] = self._resolve_ref(r).ok_sql(self.registry)
            except NotImplementedError:
                continue
        return out

    def resolved_rules(self) -> list[FieldRule]:
        """Rules with ref= indirections resolved — what the engine iterates
        (violation observed-value expressions need the target's column)."""
        return [self._resolve_ref(r) for r in self.rules]

    def check_schema(self, df: DataFrame) -> None:
        """Compile-time structural checks (e.g. sequence column order) —
        the flat-row analogue of the reference's container shape fast-fail
        (core.clj:142-146), paid once, not per row."""
        for r in self.rules:
            if isinstance(r.rule, SequenceRule):
                r.rule.check_schema(df)

"""XSD front-end: the reference's actual input format, compiled to RuleSets.

Covers the reference-supported XSD subset (no namespaces in its corpus;
namespaced schemas are handled by stripping prefixes):

* ``simpleType`` — named / anonymous / ``type=`` ref (core.clj:37-41);
* ``restriction base=`` + facets ``enumeration minInclusive maxInclusive
  minExclusive maxExclusive pattern length minLength maxLength``
  (core.clj:43-61; parser.clj:133-158);
* ``union`` — ``memberTypes=`` and nested anonymous simpleTypes, ordered
  first-success (core.clj:95-107);
* ``list`` — ``itemType=`` / nested simpleType, every whitespace token
  validates (grammar parser.clj:97; spec-enforced here, parse-only there);
* ``attributeGroup`` / ``group`` — named attribute sets and model-group
  particles with ``ref=`` expansion (grammar parser.clj:73-76,81-82;
  spec-enforced here, parse-only there);
* ``simpleContent`` — restriction/extension over text content plus
  attributes, content column ``_VALUE`` (grammar parser.clj:69);
* ``complexType`` — ``sequence``/``all``/``choice`` particles of element
  declarations + ``attribute`` declarations with ``default= fixed=
  use="required"`` (parser.clj:237-293);
* ``complexContent``/``extension base=`` — child/attribute set union
  (core.clj:177-195);
* ``element`` — ``name= type=``, inline type, ``ref=`` (core.clj:80-93);
* ``schema`` root — named-type registry with merge-shadowing over the
  predefined lattice + element registry (core.clj:128-134).

Beyond the reference (spec-implemented; absent from its grammar):

* facets ``totalDigits``/``fractionDigits``/``whiteSpace`` (XSD 1.0
  §4.3.6, 4.3.11-12 — rules/facets.py, rules/types.py:WhiteSpace);
* identity constraints ``unique``/``key``/``keyref`` (§3.11) compiled to
  the DATASET-level uniqueness/referential checks
  (:meth:`XsdSchema.identity_violations`);
* XSD 1.1 ``assert`` cross-field record rules, XPath subset → Catalyst +
  DuckDB SQL from one AST (xpath_assert.py).

Two execution paths:

1. :func:`ruleset_for` — the **columnar path**: a root complexType's child
   elements/attributes are columns of a DataFrame; the compiled RuleSet
   validates them in one projection (the engine's native mode).
2. :func:`validate_xml_column` — the **document path**: a column of XML
   strings is parsed with Spark's ``from_xml`` (schema derived from the
   XSD), then the same RuleSet runs over the parsed struct. Leaf values
   parse as strings and the rule compiler's try_cast probes reproduce the
   reference's dynamic ``read-string`` typing (parser.clj:14-22) exactly.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xmlschemavalidator_spark.compiler import FieldRule, RuleSet
from xmlschemavalidator_spark.engine import ValidationResult, validate
from xmlschemavalidator_spark.rules.attributes import DefaultAttr, FixedAttr, RequiredAttr
from xmlschemavalidator_spark.rules.facets import (
    Enumeration,
    Facet,
    Length,
    MaxExclusive,
    MaxInclusive,
    MaxLength,
    TotalDigits,
    FractionDigits,
    MinExclusive,
    MinInclusive,
    MinLength,
    Pattern,
)
from xmlschemavalidator_spark.rules.structural import AllRule, ChoiceRule, SequenceRule
from xmlschemavalidator_spark.rules.types import (
    PREDEF_TYPES,
    ListType,
    NullOr,
    Restriction,
    Type,
    TypeRegistry,
    Union,
    WhiteSpace,
)

_FACETS = {
    "enumeration": Enumeration,
    "minInclusive": MinInclusive,
    "maxInclusive": MaxInclusive,
    "minExclusive": MinExclusive,
    "maxExclusive": MaxExclusive,
    "pattern": Pattern,
    "length": Length,
    "minLength": MinLength,
    "maxLength": MaxLength,
    "totalDigits": TotalDigits,
    "fractionDigits": FractionDigits,
}


def _read_value(raw: str) -> Any:
    """The facet-literal analogue of the reference's read-string: numeric
    strings become numbers (core.clj:122-126)."""
    try:
        return int(raw)
    except ValueError:
        pass
    try:
        return float(raw)
    except ValueError:
        return raw


def _tag(el: ET.Element) -> str:
    """Local tag name, namespace-stripped."""
    t = el.tag
    return t.rsplit("}", 1)[-1] if "}" in t else t


@dataclass
class AttrDecl:
    name: str
    type: Optional[str] = None
    default: Optional[Any] = None
    fixed: Optional[Any] = None
    required: bool = False


@dataclass
class IdentityConstraint:
    """``xs:unique`` / ``xs:key`` / ``xs:keyref`` (XSD 1.0 §3.11) — the
    XSD identity constraints, absent from the reference's grammar but the
    exact source-language form of the north rule's DATASET-level checks:
    unique/key compile to the salted uniqueness check, keyref to the
    referential check. XPath subset supported for fields (the flat
    columnar model): ``child`` → column ``child``, ``@attr`` → column
    ``_attr`` (the document path's attribute prefix)."""

    name: str
    kind: str  # unique | key | keyref
    fields: tuple[str, ...]
    refer: Optional[str] = None  # keyref target constraint name

    def columns(self) -> list[str]:
        return [f"_{f[1:]}" if f.startswith("@") else f for f in self.fields]


@dataclass
class ElementDecl:
    name: str
    type: Any = None  # Type | ComplexDecl | str (named) | None
    ref: Optional[str] = None
    constraints: list["IdentityConstraint"] = field(default_factory=list)
    # XSD occurrence/value attributes on the element declaration:
    # nillable -> NULL passes the type check (xsi:nil semantics on a
    # column); default -> absent value decodes to the default and is then
    # validated; fixed -> every present value must equal the constant
    # (same semantics as the attribute machinery, reused below)
    nillable: bool = False
    default: Optional[str] = None
    fixed: Optional[str] = None


@dataclass
class ComplexDecl:
    # particle is None until a sequence/all/choice element is actually seen —
    # an extension that declares only attributes must INHERIT the base's
    # particle, so a truthy default would silently overwrite choice/all bases
    particle: Optional[str] = None  # sequence | all | choice
    children: list[ElementDecl] = field(default_factory=list)
    attributes: list[AttrDecl] = field(default_factory=list)
    base: Optional[str] = None  # complexContent/extension base
    # simpleContent: text content validates against this Type (the element
    # has attributes but no child elements; content column is _VALUE)
    simple_content: Optional[Type] = None
    # XSD 1.1 xs:assert test= expressions (cross-field record assertions)
    asserts: list[str] = field(default_factory=list)
    # xs:any wildcard present in the particle (processContents="skip"):
    # undeclared children are tolerated (nested path: container_verdict
    # with allow_undeclared=True; the flat columnar path never checks
    # undeclared columns, so only dispatch/nested consumers read this)
    has_any: bool = False


@dataclass(eq=False)
class _XmlPlan:
    """What validate_xml_column derives from the schema for one root: the
    from_xml DDL, the flatten Columns and the attribute-remapped RuleSet,
    whose compile is memoized on it."""

    ddl: str
    reserved: frozenset[str]  # the flattened column names
    fields: list[Column]
    ruleset: RuleSet


@dataclass
class XsdSchema:
    types: TypeRegistry
    complex_types: dict[str, ComplexDecl]
    elements: dict[str, ElementDecl]
    # root -> _XmlPlan; driver-side expressions only, never data
    _xml_plans: dict[str, _XmlPlan] = field(
        default_factory=dict, init=False, repr=False, compare=False
    )

    def __getstate__(self) -> dict:
        # the cached plans hold JVM Column handles: never pickle or copy them
        state = self.__dict__.copy()
        state["_xml_plans"] = {}
        return state

    # ------------------------------------------------------------------
    def _resolve_complex(self, decl: ComplexDecl) -> ComplexDecl:
        """Flatten complexContent/extension: children/attrs = base ∪ ext
        (ext-and, core.clj:177-195)."""
        if decl.base is None:
            return decl
        base = self._resolve_complex(self.complex_types[decl.base])
        return ComplexDecl(
            particle=decl.particle or base.particle,
            children=base.children + decl.children,
            attributes=base.attributes + decl.attributes,
            simple_content=decl.simple_content or base.simple_content,
            asserts=base.asserts + decl.asserts,
            has_any=base.has_any or decl.has_any,
        )

    def _element_complex(self, root: str) -> ComplexDecl:
        el = self.elements[root]
        t = el.type
        if isinstance(t, str):
            if t in self.complex_types:
                return self._resolve_complex(self.complex_types[t])
            raise ValueError(f"element {root!r} has simple type {t!r}, not a complexType")
        if isinstance(t, ComplexDecl):
            return self._resolve_complex(t)
        raise ValueError(f"element {root!r} has no complexType")

    # ------------------------------------------------------------------
    def ruleset_for(self, root: str, prefix: str = "") -> RuleSet:
        """Compile the RuleSet validating a flat record shaped like the
        root element's complexType: one column per child element (named
        ``<child>``) and per attribute (named ``@<attr>``, overridable via
        ``prefix``-handling at the call site)."""
        ct = self._element_complex(root)
        rules: list[FieldRule] = []

        if ct.simple_content is not None:
            # simpleContent: the element's text content (valueTag _VALUE)
            # validates against the base simple type + facets
            rules.append(
                FieldRule(f"{root}__value", ct.simple_content, column=f"{prefix}_VALUE")
            )

        decls = [self.elements[c.ref] if c.ref else c for c in ct.children]
        # nillable/defaulted children are structurally optional: a NULL
        # there is xsi:nil / a decodable absence, not a missing child —
        # the presence conjunction must not fail on it (XSD 1.0 §3.3.1)
        child_cols = [f"{prefix}{c.name}" for c in ct.children]
        presence_cols = [
            f"{prefix}{c.name}"
            for c, d in zip(ct.children, decls)
            if not (d.nillable or d.default is not None)
        ]
        particle = ct.particle or "sequence"
        if ct.children and (particle == "choice" or presence_cols):
            particle_rule = {
                "sequence": lambda: SequenceRule(tuple(presence_cols)),
                "all": lambda: AllRule(tuple(presence_cols)),
                "choice": lambda: ChoiceRule(tuple(child_cols)),
            }[particle]()
            rules.append(FieldRule(f"{root}__{particle}", particle_rule))

        for c, decl in zip(ct.children, decls):
            t = decl.type
            col = f"{prefix}{c.name}"
            if isinstance(t, ComplexDecl):  # nested records flatten upstream
                continue
            type_obj: Optional[Type]
            if isinstance(t, str):
                type_obj = self.types.resolve(t)
            else:
                type_obj = t
            if type_obj is not None:
                rule: Any = type_obj
                if decl.fixed is not None:
                    # fixed= on an element: equality with the constant when
                    # the value is PRESENT (XSD 1.0 3.3.1; the reference
                    # only has attribute fixed, where nil fails —
                    # parser.clj:284-288). For elements, absence is the
                    # PARTICLE's concern: a NULL may be a non-selected
                    # choice alternative, so the value rule passes on NULL
                    # — EXCEPT nillable+fixed: XSD says a nilled element
                    # must have no fixed value constraint, so there NULL
                    # fails (third-review finding)
                    # inside a choice, a NULL may be a NON-SELECTED
                    # alternative — the nilled-fixed prohibition only
                    # applies where NULL can only mean xsi:nil
                    # (fourth-review finding)
                    rule = (
                        FixedAttr(decl.fixed)
                        if (decl.nillable and particle != "choice")
                        else NullOr(FixedAttr(decl.fixed))
                    )
                elif decl.default is not None:
                    # default= decodes absent values before validation
                    rule = DefaultAttr(decl.default, type_obj)
                elif decl.nillable or particle == "choice":
                    # nillable="true" (xsi:nil on a column: NULL passes);
                    # choice alternatives must not fail when absent
                    rule = NullOr(type_obj)
                rules.append(FieldRule(f"{root}__{c.name}", rule, column=col))

        for a in ct.attributes:
            col = f"{prefix}{a.name}"
            t = self.types.resolve(a.type) if a.type else None
            rid = f"{root}__attr_{a.name}"
            if a.fixed is not None:
                rules.append(FieldRule(rid, FixedAttr(a.fixed), column=col, is_attr=True))
            elif a.default is not None:
                rules.append(FieldRule(rid, DefaultAttr(a.default, t), column=col, is_attr=True))
            elif a.required:
                rules.append(FieldRule(rid, RequiredAttr(t), column=col, is_attr=True))
            elif t is not None:
                rules.append(FieldRule(rid, NullOr(t), column=col, is_attr=True))

        for i, test in enumerate(ct.asserts):
            # XSD 1.1 xs:assert: record-scoped cross-field rule compiled
            # from the XPath subset (xpath_assert.py); both the Catalyst
            # expression and the DuckDB oracle render from one AST
            from xmlschemavalidator_spark.xpath_assert import Assertion

            rules.append(FieldRule(f"{root}__assert_{i}", Assertion(test)))

        # rule ids must be unique: a child element named 'attr_<x>' next to
        # an attribute '<x>' (or 'value' next to simpleContent) would
        # otherwise emit two rules under one id and silently shadow in the
        # wide-verdict output — fail loudly at compile time instead
        seen: dict[str, FieldRule] = {}
        for r in rules:
            if r.rule_id in seen:
                raise ValueError(
                    f"rule id collision in complexType of {root!r}: {r.rule_id!r} "
                    f"produced by two declarations (element/attribute/simpleContent "
                    f"name clash) — rename one of the colliding declarations"
                )
            seen[r.rule_id] = r
        return RuleSet(rules=rules, registry=self.types)

    # ------------------------------------------------------------------
    def identity_violations(
        self,
        df: DataFrame,
        root: str,
        ref_frames: Optional[dict[str, DataFrame]] = None,
    ) -> DataFrame:
        """Dataset-level identity-constraint violations (XSD 1.0 §3.11)
        for a table of ``root`` records:
        ``(constraint, kind, reason, field_value, n_rows)``.

        * ``unique`` — duplicated field tuples (``reason='duplicate'``);
          tuples containing NULL are exempt per spec (a node missing a
          field is not bound by the constraint);
        * ``key`` — duplicates PLUS rows with NULL fields
          (``reason='missing_field'``: a key must exist and be unique);
        * ``keyref`` — bound tuples with no matching tuple in the referred
          key/unique (``reason='dangling'``), the referential check; the
          referred constraint may live on another element — pass its table
          via ``ref_frames={element_name: df}`` (defaults to ``df``).

        This is the XSD source-language form of the north rule's dataset
        checks: unique/key are the uniqueness pass (groupBy counts —
        salting is the same upgrade path as checks/uniqueness.py), keyref
        is the referential pass (left-anti against the distinct key set,
        broadcast when small)."""
        decl = self.elements[root]
        all_constraints: dict[str, tuple[str, IdentityConstraint]] = {}
        for el_name, el in self.elements.items():
            for c in el.constraints:
                all_constraints[c.name] = (el_name, c)

        out_schema = (
            "constraint string, kind string, reason string, "
            "field_value string, n_rows bigint"
        )
        spark = df.sparkSession
        results: list[DataFrame] = []
        for c in decl.constraints:
            cols = c.columns()
            bound = F.lit(True)
            for x in cols:
                bound = bound & F.col(x).isNotNull()
            # group/join on the REAL columns — a concat_ws('|') tuple key
            # collides when field values contain the separator ('a|b','c')
            # vs ('a','b|c') — round-2 review finding. concat_ws is used
            # only for the human-readable output column.
            if c.kind in ("unique", "key"):
                dups = (
                    df.where(bound)
                    .groupBy(*[F.col(x) for x in cols])
                    .agg(F.count(F.lit(1)).alias("n_rows"))
                    .where(F.col("n_rows") > 1)
                    .select(
                        F.lit(c.name).alias("constraint"),
                        F.lit(c.kind).alias("kind"),
                        F.lit("duplicate").alias("reason"),
                        F.concat_ws(
                            "|", *[F.col(x).cast("string") for x in cols]
                        ).alias("field_value"),
                        "n_rows",
                    )
                )
                results.append(dups)
                if c.kind == "key":
                    missing = (
                        df.where(~bound)
                        .agg(F.count(F.lit(1)).alias("n_rows"))
                        .where(F.col("n_rows") > 0)
                        .select(
                            F.lit(c.name).alias("constraint"),
                            F.lit("key").alias("kind"),
                            F.lit("missing_field").alias("reason"),
                            F.lit(None).cast("string").alias("field_value"),
                            "n_rows",
                        )
                    )
                    results.append(missing)
            elif c.kind == "keyref":
                if c.refer not in all_constraints:
                    raise ValueError(
                        f"keyref {c.name!r} refers to unknown constraint {c.refer!r}"
                    )
                target_el, target = all_constraints[c.refer]
                tdf = (ref_frames or {}).get(target_el, df)
                tcols = target.columns()
                tbound = F.lit(True)
                for x in tcols:
                    tbound = tbound & F.col(x).isNotNull()
                # positional rename: the keyref's i-th field matches the
                # key's i-th field; the anti-join runs on the REAL columns
                join_names = [f"_ic_{i}" for i in range(len(cols))]
                keys = (
                    tdf.where(tbound)
                    .select(
                        *[F.col(x).alias(jn) for x, jn in zip(tcols, join_names)]
                    )
                    .distinct()
                )
                refs = (
                    df.where(bound)
                    .groupBy(*[F.col(x).alias(jn) for x, jn in zip(cols, join_names)])
                    .agg(F.count(F.lit(1)).alias("n_rows"))
                )
                dangling = (
                    refs.join(keys, join_names, "left_anti")
                    .select(
                        F.lit(c.name).alias("constraint"),
                        F.lit("keyref").alias("kind"),
                        F.lit("dangling").alias("reason"),
                        F.concat_ws(
                            "|", *[F.col(jn).cast("string") for jn in join_names]
                        ).alias("field_value"),
                        "n_rows",
                    )
                )
                results.append(dangling)
        if not results:
            return spark.createDataFrame([], out_schema)
        out = results[0]
        for r in results[1:]:
            out = out.unionByName(r)
        return out

    # ------------------------------------------------------------------
    def nested_container_verdict(self, children: Column, root: str) -> Column:
        """The rose-tree (nested-array) validation path, driven by the
        SCHEMA: build the declared ``(tag, type)`` list from ``root``'s
        complexType and apply :func:`rules.structural.container_verdict`
        with the particle kind and the ``xs:any`` tolerance the schema
        declares — THE consumer of ``ComplexDecl.has_any`` (a schema with
        a wildcard tolerates undeclared children here; without one they
        get the ``[false :undefined tag]`` pseudo-verdict).

        ``children`` is an ``array<struct<tag:string, value:string>>``
        column; simple-typed declared children only (nested complex
        children flatten upstream, as in :meth:`ruleset_for`)."""
        from xmlschemavalidator_spark.rules.structural import container_verdict

        ct = self._element_complex(root)
        declared = []
        for c in ct.children:
            d = self.elements[c.ref] if c.ref else c
            t = d.type
            if isinstance(t, str):
                if t in self.complex_types:
                    continue
                t = self.types.resolve(t)
            if t is None or isinstance(t, ComplexDecl):
                continue
            declared.append((c.name, t))
        return container_verdict(
            children,
            declared,
            ct.particle or "sequence",
            self.types,
            allow_undeclared=ct.has_any,
        )

    # ------------------------------------------------------------------
    def xml_struct_ddl(self, root: str) -> str:
        """from_xml schema for the root element: every child element and
        attribute as a string field (dynamic typing happens in the rules,
        matching special-read-string). Attributes use the ``_`` prefix
        (Spark XML's attributePrefix)."""
        ct = self._element_complex(root)
        fields = [f"`{c.name}` string" for c in ct.children]
        fields += [f"`_{a.name}` string" for a in ct.attributes]
        if ct.simple_content is not None:
            fields.append("`_VALUE` string")
        return "struct<" + ", ".join(fields) + ">"

    def _xml_plan(self, root: str) -> _XmlPlan:
        """The cached :class:`_XmlPlan` of ``root``. The DDL and the remapped
        rules are plain Python, re-derived on each call and compared with
        the cached ones, so an edit to the schema rebuilds the plan; an
        unchanged schema reuses its Columns and its compiled RuleSet."""
        ddl = self.xml_struct_ddl(root)
        rs = self.ruleset_for(root)
        # attribute columns carry the Spark XML '_' prefix; remap ONLY the
        # attribute rules, identified by the structural is_attr flag set in
        # ruleset_for — matching on rule_id strings misclassified a child
        # element literally named 'attr_<x>' (round-1 advisor finding)
        from xmlschemavalidator_spark.xpath_assert import Assertion as _Assert

        rules = [
            FieldRule(r.rule_id,
                      r.rule.with_attr_prefix("_") if isinstance(r.rule, _Assert) else r.rule,
                      ("_" + r.column) if (r.column and r.is_attr) else r.column,
                      r.observed, is_attr=r.is_attr)
            for r in rs.rules
        ]
        plan = self._xml_plans.get(root)
        if (
            plan is not None
            and plan.ddl == ddl
            and plan.ruleset.registry is rs.registry
            and plan.ruleset.rules == rules
        ):
            return plan
        ct = self._element_complex(root)
        fields = [F.col(f"_x.{c.name}").alias(c.name) for c in ct.children]
        fields += [F.col(f"_x._{a.name}").alias(f"_{a.name}") for a in ct.attributes]
        if ct.simple_content is not None:
            fields.append(F.col("_x._VALUE").alias("_VALUE"))
        reserved = frozenset(
            [c.name for c in ct.children] + [f"_{a.name}" for a in ct.attributes]
        )
        plan = _XmlPlan(ddl, reserved, fields, RuleSet(rules=rules, registry=rs.registry))
        self._xml_plans[root] = plan
        return plan

    def validate_xml_column(
        self, df: DataFrame, xml_col: str, root: str, key: str
    ) -> ValidationResult:
        """Document path: parse the XML column with from_xml, flatten the
        struct to columns, run the compiled RuleSet — the reference's
        ``decode`` over a table of documents. The DDL, the flatten Columns
        and the compiled RuleSet are built once per root (:meth:`_xml_plan`)."""
        plan = self._xml_plan(root)
        # flatten by SELECT, keeping only the key + parsed fields: a
        # withColumn flatten would silently OVERWRITE input columns that
        # share a child-element name — including the key column itself,
        # which would re-key verdicts by document content
        if key in plan.reserved or key == "_VALUE":
            raise ValueError(
                f"key column {key!r} collides with a declared element/attribute "
                f"of root {root!r}; rename the key column before validating"
            )
        parsed = df.withColumn("_x", F.from_xml(F.col(xml_col), plan.ddl))
        cols = [F.col(key), *plan.fields]
        # root_tag is carried when present (dispatch_validate_xml selects it)
        if "root_tag" in df.columns and "root_tag" not in plan.reserved:
            cols.append(F.col("root_tag"))
        return validate(parsed.select(*cols), plan.ruleset, key=key)

    # ------------------------------------------------------------------
    def dispatch_validate_xml(
        self, df: DataFrame, xml_col: str, key: str
    ) -> DataFrame:
        """Root-tag dispatch (core.clj:128-134: the compiled schema-fn
        dispatches on ``(:tag value)``): a table of MIXED-root XML documents
        is validated against whichever declared element matches each row's
        root tag; undeclared roots get the ``:undefined`` pseudo-verdict
        (parser.clj:216).

        Returns ``(key, root_tag, _doc_ok)`` — one pass per declared
        complex root over its matching subset (Catalyst prunes each subset
        scan with the pushed-down root_tag filter), plus the undeclared
        remainder."""
        # first ELEMENT tag: '<' followed by a name-start char — skips the
        # XML prolog (<?xml?>), doctypes (<!DOCTYPE>) and comments (<!--),
        # whose second character is never a name-start. (A comment that
        # itself contains an element-like token before the root would still
        # confuse this; full prolog parsing belongs in from_xml itself.)
        tagged = df.withColumn(
            "root_tag", F.regexp_extract(F.col(xml_col), r"<([A-Za-z_][\w.-]*)", 1)
        )
        outs: list[DataFrame] = []
        complex_roots = [
            name
            for name, el in self.elements.items()
            if isinstance(el.type, ComplexDecl)
            or (isinstance(el.type, str) and el.type in self.complex_types)
        ]
        for root in complex_roots:
            sub = tagged.where(F.col("root_tag") == root)
            res = self.validate_xml_column(sub, xml_col, root=root, key=key)
            outs.append(res.verdicts.select(key, "root_tag", "_doc_ok"))
        # simple-type roots: value is the element text (valueTag _VALUE)
        simple_roots = [n for n in self.elements if n not in complex_roots]
        for root in simple_roots:
            el = self.elements[root]
            t = self.types.resolve(el.type) if isinstance(el.type, str) else el.type
            sub = tagged.where(F.col("root_tag") == root).withColumn(
                "_v", F.from_xml(F.col(xml_col), "struct<_VALUE: string>")["_VALUE"]
            )
            ok = t.to_column(F.col("_v"), self.types) if t is not None else F.lit(True)
            outs.append(sub.select(key, "root_tag", ok.alias("_doc_ok")))
        undeclared = tagged.where(
            ~F.col("root_tag").isin(list(self.elements)) | F.col("root_tag").isNull()
        ).select(key, "root_tag", F.lit(False).alias("_doc_ok"))
        outs.append(undeclared)
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out


# ===========================================================================
# parsing
# ===========================================================================


def _parse_facets(el: ET.Element) -> tuple[Facet, ...]:
    out = []
    for child in el:
        tag = _tag(child)
        if tag in _FACETS:
            raw = child.get("value", "")
            cls = _FACETS[tag]
            if cls is Pattern:
                out.append(Pattern(raw))
            elif cls in (Length, MinLength, MaxLength, TotalDigits, FractionDigits):
                out.append(cls(int(raw)))
            else:
                out.append(cls(_read_value(raw)))
    return tuple(out)


def _parse_simple_type(el: ET.Element, types: TypeRegistry) -> Type:
    """simpleType body: restriction | union | type= ref."""
    ref = el.get("type")
    if ref is not None:
        return types.resolve(ref)
    for child in el:
        tag = _tag(child)
        if tag == "restriction":
            r: Type = Restriction(base=child.get("base"), facets=_parse_facets(child))
            ws = [c for c in child if _tag(c) == "whiteSpace"]
            if ws:
                # whiteSpace is a value TRANSFORM, not a predicate — wrap
                # the whole restriction so every facet sees the normalized
                # value (spec-implemented; absent from the reference)
                r = WhiteSpace(mode=ws[0].get("value", "preserve"), inner=r)
            return r
        if tag == "list":
            # xs:list itemType= or nested anonymous simpleType (spec-enforced;
            # the reference's grammar parses LIST at parser.clj:97 but has no
            # transform entry for it — see rules/types.py:ListType)
            item_ref = child.get("itemType")
            if item_ref is not None:
                return ListType(item=item_ref)
            for sub in child:
                if _tag(sub) == "simpleType":
                    return ListType(item=_parse_simple_type(sub, types))
            raise ValueError("list without itemType or nested simpleType")
        if tag == "union":
            members: list[Any] = []
            mt = child.get("memberTypes")
            if mt:
                members.extend(mt.split())
            for sub in child:
                if _tag(sub) == "simpleType":
                    members.append(_parse_simple_type(sub, types))
            if not members:
                raise ValueError(
                    "union with no members (empty memberTypes and no nested "
                    "simpleTypes) — malformed schema"
                )
            return Union(members=tuple(members))
    raise ValueError(f"unsupported simpleType body: {ET.tostring(el)[:120]!r}")


def _parse_attribute(el: ET.Element) -> AttrDecl:
    default = el.get("default")
    fixed = el.get("fixed")
    return AttrDecl(
        name=el.get("name", ""),
        type=el.get("type"),
        default=_read_value(default) if default is not None else None,
        fixed=_read_value(fixed) if fixed is not None else None,
        required=el.get("use") == "required",
    )


@dataclass
class _NamedGroups:
    """Schema-level named groups: ``attributeGroup name=`` and ``group
    name=`` bodies, kept as raw XML elements and expanded at use sites
    (``ref=``). The reference's grammar declares both (ATTRIBUTEGROUP
    parser.clj:73-76, GROUP parser.clj:81-82) but its transform map cannot
    execute them (parser.clj:297-326); we enforce the spec semantics:
    expansion = inline substitution of the named body."""

    attr_groups: dict[str, ET.Element] = field(default_factory=dict)
    groups: dict[str, ET.Element] = field(default_factory=dict)

    def expand_attrs(self, name: str, seen: frozenset[str] = frozenset()) -> list[AttrDecl]:
        if name in seen:
            raise ValueError(f"circular attributeGroup ref through {name!r}")
        try:
            body = self.attr_groups[name]
        except KeyError:
            raise KeyError(f"attributeGroup {name!r} not defined") from None
        out: list[AttrDecl] = []
        for child in body:
            tag = _tag(child)
            if tag == "attribute":
                out.append(_parse_attribute(child))
            elif tag == "attributeGroup" and child.get("ref"):
                out.extend(self.expand_attrs(child.get("ref"), seen | {name}))
        return out

    def group_body(self, name: str) -> ET.Element:
        try:
            body = self.groups[name]
        except KeyError:
            raise KeyError(f"group {name!r} not defined") from None
        for child in body:
            if _tag(child) in ("sequence", "all", "choice"):
                return child
        raise ValueError(f"group {name!r} has no sequence/all/choice particle")


_EMPTY_GROUPS = _NamedGroups()


def _parse_identity_constraints(el: ET.Element) -> list[IdentityConstraint]:
    out = []
    for child in el:
        tag = _tag(child)
        if tag in ("unique", "key", "keyref"):
            fields = tuple(
                f.get("xpath", "")
                for f in child
                if _tag(f) == "field"
            )
            out.append(
                IdentityConstraint(
                    name=child.get("name", ""),
                    kind=tag,
                    fields=fields,
                    refer=child.get("refer"),
                )
            )
    return out


def _parse_element(
    el: ET.Element, types: TypeRegistry, named: _NamedGroups = _EMPTY_GROUPS
) -> ElementDecl:
    ref = el.get("ref")
    if ref:
        return ElementDecl(name=ref, ref=ref)
    name = el.get("name", "")
    constraints = _parse_identity_constraints(el)
    extra = dict(
        nillable=el.get("nillable", "false").lower() == "true",
        default=el.get("default"),
        fixed=el.get("fixed"),
    )
    t = el.get("type")
    if t is not None:
        return ElementDecl(name=name, type=t, constraints=constraints, **extra)
    for child in el:
        tag = _tag(child)
        if tag == "simpleType":
            return ElementDecl(
                name=name, type=_parse_simple_type(child, types),
                constraints=constraints, **extra
            )
        if tag == "complexType":
            return ElementDecl(
                name=name,
                type=_parse_complex_type(child, types, named),
                constraints=constraints,
                **extra,
            )
    return ElementDecl(name=name, type="string", constraints=constraints, **extra)


def _parse_particle(
    particle_el: ET.Element, types: TypeRegistry, named: _NamedGroups
) -> tuple[str, list[ElementDecl], bool]:
    return (
        _tag(particle_el),
        [_parse_element(e, types, named) for e in particle_el if _tag(e) == "element"],
        any(_tag(e) == "any" for e in particle_el),
    )


def _parse_simple_content(
    sc: ET.Element, types: TypeRegistry, named: _NamedGroups, decl: ComplexDecl
) -> None:
    """simpleContent (grammar: parser.clj:69): restriction → base + facets on
    the text content; extension → base type on the text content plus declared
    attributes. Attributes land on the ComplexDecl like particle attributes."""
    for sub in sc:
        stag = _tag(sub)
        if stag == "restriction":
            decl.simple_content = Restriction(base=sub.get("base"), facets=_parse_facets(sub))
        elif stag == "extension":
            decl.simple_content = Restriction(base=sub.get("base"))
        else:
            continue
        for a in sub:
            atag = _tag(a)
            if atag == "attribute":
                decl.attributes.append(_parse_attribute(a))
            elif atag == "attributeGroup" and a.get("ref"):
                decl.attributes.extend(named.expand_attrs(a.get("ref")))


def _parse_complex_type(
    el: ET.Element, types: TypeRegistry, named: _NamedGroups = _EMPTY_GROUPS
) -> ComplexDecl:
    decl = ComplexDecl()
    for child in el:
        tag = _tag(child)
        if tag in ("sequence", "all", "choice"):
            decl.particle, decl.children, decl.has_any = _parse_particle(child, types, named)
        elif tag == "group" and child.get("ref"):
            decl.particle, decl.children, decl.has_any = _parse_particle(
                named.group_body(child.get("ref")), types, named
            )
        elif tag == "attribute":
            decl.attributes.append(_parse_attribute(child))
        elif tag == "attributeGroup" and child.get("ref"):
            decl.attributes.extend(named.expand_attrs(child.get("ref")))
        elif tag == "simpleContent":
            _parse_simple_content(child, types, named, decl)
        elif tag == "assert":
            decl.asserts.append(child.get("test", "true()"))
        elif tag == "complexContent":
            for ext in child:
                if _tag(ext) == "extension":
                    decl.base = ext.get("base")
                    for sub in ext:
                        stag = _tag(sub)
                        if stag in ("sequence", "all", "choice"):
                            decl.particle, decl.children, decl.has_any = _parse_particle(sub, types, named)
                        elif stag == "group" and sub.get("ref"):
                            decl.particle, decl.children, decl.has_any = _parse_particle(
                                named.group_body(sub.get("ref")), types, named
                            )
                        elif stag == "attribute":
                            decl.attributes.append(_parse_attribute(sub))
                        elif stag == "attributeGroup" and sub.get("ref"):
                            decl.attributes.extend(named.expand_attrs(sub.get("ref")))
    return decl


def parse_xsd(xsd: str) -> XsdSchema:
    """Parse an XSD string (the reference's schema dialect) into registries —
    the analogue of the reference's compile stage up to code-gen
    (core.clj:128-134, parser.clj:197-204)."""
    root = ET.fromstring(xsd)
    if _tag(root) != "schema":
        # allow fragments by wrapping (validation-fn-of's any-start property)
        wrapper = ET.Element("schema")
        wrapper.append(root)
        root = wrapper

    types = PREDEF_TYPES.merge({})  # fresh layer: schema-local shadowing
    complex_types: dict[str, ComplexDecl] = {}
    elements: dict[str, ElementDecl] = {}

    # three passes (forward refs): named attribute/model groups, then named
    # types, then elements
    named = _NamedGroups()
    for child in root:
        tag = _tag(child)
        name = child.get("name")
        if tag == "attributeGroup" and name:
            named.attr_groups[name] = child
        elif tag == "group" and name:
            named.groups[name] = child
    for child in root:
        tag = _tag(child)
        name = child.get("name")
        if tag == "simpleType" and name:
            types.define(name, _parse_simple_type(child, types))
        elif tag == "complexType" and name:
            complex_types[name] = _parse_complex_type(child, types, named)
    for child in root:
        if _tag(child) == "element":
            decl = _parse_element(child, types, named)
            elements[decl.name] = decl

    return XsdSchema(types=types, complex_types=complex_types, elements=elements)


def compile_fragment(xsd_fragment: str) -> Type:
    """Compile any simple-type-shaped grammar fragment (restriction /
    simpleType / union) to a standalone Type — preserving the reference's
    property that every fragment is independently compilable
    (``validation-fn-of`` with a start rule, parser.clj:331-341)."""
    el = ET.fromstring(xsd_fragment)
    tag = _tag(el)
    schema = parse_xsd("<schema/>")
    if tag == "restriction":
        return Restriction(base=el.get("base"), facets=_parse_facets(el))
    if tag == "simpleType":
        return _parse_simple_type(el, schema.types)
    if tag in ("union", "list"):
        wrapped = ET.Element("simpleType")
        wrapped.append(el)
        return _parse_simple_type(wrapped, schema.types)
    raise ValueError(f"unsupported fragment start {tag!r}")

"""End-to-end engine tests: validate() verdicts, violations, partition
summary, valid?, with_status — the Spark renderings of decode/valid?/
with-status (core.clj:263-285; parser.clj:345-400)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xmlschemavalidator_spark.compiler import FieldRule, RuleSet
from xmlschemavalidator_spark.engine import (
    DOC_OK,
    explode_failures,
    ok_col_name,
    validate,
    with_status,
)
from xmlschemavalidator_spark.rules.attributes import RequiredAttr
from xmlschemavalidator_spark.rules.facets import Enumeration, MaxInclusive, MinInclusive
from xmlschemavalidator_spark.rules.types import Restriction
from tests.conftest import NullBelow100


def _docs(spark):
    return spark.createDataFrame(
        [
            ("u1", "en", 40),
            ("u2", "de", 36),
            ("u3", "xx", 42),   # lang violation
            ("u4", "en", 35),   # range violation
            ("u5", "yy", 43),   # both
            ("u6", None, 40),   # lang null -> violation
        ],
        "url string, lang string, n_chars bigint",
    )


def _ruleset():
    return RuleSet(
        rules=[
            FieldRule(
                "lang_enum",
                Restriction(facets=(Enumeration("en"), Enumeration("de"), Enumeration("sv"))),
                column="lang",
            ),
            FieldRule(
                "chars_range",
                Restriction(base="integer", facets=(MinInclusive(36), MaxInclusive(42))),
                column="n_chars",
            ),
            FieldRule("url_required", RequiredAttr(), column="url"),
        ]
    )


def test_verdict_columns(spark):
    res = validate(_docs(spark), _ruleset(), key="url")
    got = {
        r["url"]: (r[ok_col_name("lang_enum")], r[ok_col_name("chars_range")], r[DOC_OK])
        for r in res.verdicts.collect()
    }
    assert got == {
        "u1": (True, True, True),
        "u2": (True, True, True),
        "u3": (False, True, False),
        "u4": (True, False, False),
        "u5": (False, False, False),
        "u6": (False, True, False),
    }


def test_violation_rows_exact(spark):
    res = validate(_docs(spark), _ruleset(), key="url")
    got = sorted(tuple(r) for r in res.violations.collect())
    assert got == [
        ("u3", "lang_enum", "xx"),
        ("u4", "chars_range", "35"),
        ("u5", "chars_range", "43"),
        ("u5", "lang_enum", "yy"),
        ("u6", "lang_enum", None),
    ]


def test_partition_summary_counts(spark):
    df = _docs(spark).repartition(2)
    res = validate(df, _ruleset(), key="url")
    summary = res.partition_summary.collect()
    assert sum(r["n_rows"] for r in summary) == 6
    assert sum(r["n_failed_docs"] for r in summary) == 4
    for r in summary:
        assert r["pass"] == (r["n_failed_docs"] == 0)


def test_valid_fold(spark):
    assert not validate(_docs(spark), _ruleset(), key="url").valid()
    clean = _docs(spark).filter(F.col("url").isin("u1", "u2"))
    assert validate(clean, _ruleset(), key="url").valid()


def test_with_status_decoration(spark):
    out = with_status(_docs(spark), _ruleset(), ["lang"])
    got = {r["url"]: (r["lang_status"]["value"], r["lang_status"]["status"]) for r in out.collect()}
    assert got["u1"] == ("en", True)
    assert got["u3"] == ("xx", False)


def test_single_pass_plan(spark):
    """All rule booleans must evaluate in ONE projection over ONE scan —
    the plan must not contain a Union or a second scan of the input."""
    res = validate(_docs(spark), _ruleset(), key="url")
    plan = res.verdicts._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan
    viol_plan = res.violations._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in viol_plan
    assert viol_plan.lower().count("logicalrdd") <= 1


def test_duplicate_rule_id_rejected(spark):
    rs = _ruleset()
    rs.add(FieldRule("lang_enum", RequiredAttr(), column="lang"))
    try:
        rs.compile()
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_extension_merges_rule_sets(spark):
    # complexContent/extension (core.clj:177-195): extended = base ∪ ext,
    # ext shadows same-id base rules; pure compile-time dict merge
    from xmlschemavalidator_spark.compiler import RuleRef

    base = _ruleset()
    ext = RuleSet(rules=[
        FieldRule("nchars_positive", Restriction(base="positiveInteger"), column="n_chars"),
        FieldRule("lang_enum",  # shadows base's lang_enum: only 'en' allowed now
                  Restriction(facets=(Enumeration("en"),)), column="lang"),
    ])
    merged = base.extend(ext)
    assert [r for r, _ in merged.introspect()] == [
        "lang_enum", "chars_range", "url_required", "nchars_positive",
    ]
    df = spark.createDataFrame([("u1", "de", 40)], "url string, lang string, n_chars bigint")
    res = validate(df, merged, key="url")
    row = res.verdicts.collect()[0]
    assert row[ok_col_name("lang_enum")] is False  # shadowed: de no longer ok
    assert row[ok_col_name("nchars_positive")] is True


def test_rule_ref_indirection(spark):
    # ref= element indirection (core.clj:80-93): delegate to a named rule
    from xmlschemavalidator_spark.compiler import RuleRef

    rs = RuleSet(rules=[
        FieldRule("lang_rule", Restriction(facets=(Enumeration("en"),)), column="lang"),
        FieldRule("lang_alias", RuleRef("lang_rule")),
    ])
    df = spark.createDataFrame([("u1", "en"), ("u2", "de")], "url string, lang string")
    res = validate(df, rs, key="url")
    got = {r["url"]: (r[ok_col_name("lang_rule")], r[ok_col_name("lang_alias")])
           for r in res.verdicts.collect()}
    assert got == {"u1": (True, True), "u2": (False, False)}
    # violations report the ref target's column as observed
    v = sorted(tuple(r) for r in res.violations.collect())
    assert ("u2", "lang_alias", "de") in v and ("u2", "lang_rule", "de") in v


def test_rule_ref_cycle_and_missing(spark):
    from xmlschemavalidator_spark.compiler import RuleRef

    import pytest as _pytest
    rs = RuleSet(rules=[FieldRule("a", RuleRef("b")), FieldRule("b", RuleRef("a"))])
    with _pytest.raises(ValueError, match="circular"):
        rs.compile()
    rs2 = RuleSet(rules=[FieldRule("a", RuleRef("nope"))])
    with _pytest.raises(KeyError):
        rs2.compile()


def test_split_valid_quarantine(spark):
    from xmlschemavalidator_spark.engine import split_valid

    clean, quarantined = split_valid(_docs(spark), _ruleset(), key="url")
    assert clean.columns == _docs(spark).columns  # original schema preserved
    assert sorted(r["url"] for r in clean.collect()) == ["u1", "u2"]
    assert sorted(r["url"] for r in quarantined.collect()) == ["u3", "u4", "u5", "u6"]


def test_repaired_defaults(spark):
    from xmlschemavalidator_spark.engine import repaired
    from xmlschemavalidator_spark.rules.attributes import DefaultAttr

    rs = RuleSet(rules=[FieldRule("lang_def", DefaultAttr("en", "string"), column="lang")])
    out = repaired(_docs(spark), rs)
    got = {r["url"]: r["lang"] for r in out.collect()}
    assert got["u6"] == "en"   # null repaired to the default
    assert got["u3"] == "xx"   # non-null untouched


def test_validate_empty_dataframe(spark):
    empty = _docs(spark).limit(0)
    res = validate(empty, _ruleset(), key="url")
    assert res.violations.count() == 0
    assert res.partition_summary.count() == 0
    assert res.valid() is True  # vacuously valid (AND over nothing)


def test_numeric_rule_on_typed_numeric_column(spark):
    # rules written for dynamic strings must also work on typed columns
    df = spark.createDataFrame([("u1", 40.0), ("u2", 35.5)], "url string, v double")
    rs = RuleSet(rules=[FieldRule(
        "r", Restriction(base="integer", facets=(MinInclusive(36), MaxInclusive(42))),
        column="v")])
    got = {r["url"]: r[ok_col_name("r")] for r in validate(df, rs, key="url").verdicts.collect()}
    assert got == {"u1": True, "u2": False}  # 35.5 fails integer base too


def test_pandas_rule_vectorized_predicate(spark):
    from xmlschemavalidator_spark.compiler import PandasRule

    def looks_like_url(s):
        return s.str.startswith("https://").fillna(False)

    rs = RuleSet(rules=[
        FieldRule("url_shape", PandasRule(looks_like_url), column="url"),
        FieldRule("lang_enum", Restriction(facets=(Enumeration("en"),)), column="lang"),
    ])
    df = spark.createDataFrame(
        [("https://a/x", "en"), ("ftp://b/y", "en"), (None, "en")],
        "url string, lang string",
    )
    res = validate(df, rs, key="lang")
    got = [r[ok_col_name("url_shape")] for r in res.verdicts.collect()]
    assert got == [True, False, False]


def test_compile_sql_skips_pandas_rules(spark):
    from xmlschemavalidator_spark.compiler import PandasRule

    rs = RuleSet(rules=[
        FieldRule("py", PandasRule(lambda s: s.notna()), column="lang"),
        FieldRule("lang_enum", Restriction(facets=(Enumeration("en"),)), column="lang"),
    ])
    sqls = rs.compile_sql()
    assert "lang_enum" in sqls and "py" not in sqls  # mixed ruleset still renders


def test_null_verdict_rule_counts_failed_everywhere(spark):
    """A rule yielding NULL must fail consistently: in violations AND in
    _doc_ok / valid() / partition summary (it used to appear only in
    violations, so split flows silently lost the row)."""
    df = spark.createDataFrame([(1, 50), (2, 200)], "k long, v long")
    rs = RuleSet(rules=[FieldRule("maybe", NullBelow100(), column="v")])
    res = validate(df, rs, key="k")
    assert [r["k"] for r in res.violations.collect()] == [1]
    got = {r["k"]: r["_doc_ok"] for r in res.verdicts.collect()}
    assert got == {1: False, 2: True}
    assert not res.valid()


def test_explode_failures_matches_per_rule_union(spark):
    """The lazy violations core against an independent reference: the
    union over rules of ``where(~coalesce(ok, false))`` scans. Edge cases:
    a failing rule whose observed value is NULL (url_required on a NULL
    url), a NULL-yielding custom rule, fully passing rows, and carried
    ``violation_cols``."""
    df = spark.createDataFrame(
        [
            (1, "u1", "en", 40, 200, "p0"),   # passes everything
            (2, "u2", "xx", 35, 200, "p1"),   # lang + range
            (3, None, "de", 40, 200, "p0"),   # url_required, NULL observed
            (4, "u4", "en", 40, 50, "p1"),    # custom rule yields NULL
            (5, None, None, 99, None, "p0"),  # every rule fails
            (6, "u6", "sv", 42, 101, "p1"),   # passes everything
        ],
        "k long, url string, lang string, n_chars bigint, v long, part string",
    ).coalesce(1)
    rs = RuleSet(
        rules=_ruleset().rules + [FieldRule("maybe", NullBelow100(), column="v")]
    )
    compiled = rs.compile()
    reference = None
    for rule in rs.resolved_rules():
        part = df.where(~F.coalesce(compiled[rule.rule_id], F.lit(False))).select(
            "k",
            "part",
            F.lit(rule.rule_id).alias("rule_id"),
            F.expr(rule.observed_expr).cast("string").alias("observed_value"),
        )
        reference = part if reference is None else reference.unionByName(part)
    want = sorted(tuple(r) for r in reference.collect())

    got = explode_failures(df, rs, "k", "part")
    assert got.columns == ["k", "part", "rule_id", "observed_value"]
    got_rows = got.collect()
    assert sorted(tuple(r) for r in got_rows) == want
    res = validate(df, rs, key="k", violation_cols=["part"])
    assert res.violations.columns == ["k", "rule_id", "observed_value", "part"]
    assert sorted(
        (r["k"], r["part"], r["rule_id"], r["observed_value"]) for r in res.violations.collect()
    ) == want

    assert [r for r in want if r[0] == 3] == [(3, "p0", "url_required", None)]
    assert (4, "p1", "maybe", "50") in want
    assert not {1, 6} & {r[0] for r in want}
    # within a row, failures come out in ruleset order
    order = [r.rule_id for r in rs.resolved_rules()]
    assert [r["rule_id"] for r in got_rows if r["k"] == 5] == order


def test_ruleset_registry_isolated(spark):
    """Defining a type on one default RuleSet must not leak into others or
    into the predefined lattice."""
    from xmlschemavalidator_spark.rules.types import PREDEF_TYPES, Restriction
    from xmlschemavalidator_spark.rules.facets import MinInclusive

    rs1 = RuleSet()
    rs1.registry.define("mytype", Restriction(base="integer", facets=(MinInclusive(5),)))
    rs2 = RuleSet()
    assert "mytype" in rs1.registry
    assert "mytype" not in rs2.registry
    assert "mytype" not in PREDEF_TYPES


def test_extend_preserves_base_local_shadow(spark):
    """extend() must not let the extension's untouched builtins revert the
    base's schema-local shadow of a predefined type name."""
    from xmlschemavalidator_spark.rules.types import BuiltinType, PREDEF_TYPES, Restriction
    from xmlschemavalidator_spark.rules.facets import MinLength

    # inline base (a name ref would resolve to the shadow itself)
    strict_string = Restriction(
        base=BuiltinType("string", "string"), facets=(MinLength(3),)
    )
    base = RuleSet(
        rules=[FieldRule("s", "string", column="v")],
        registry=PREDEF_TYPES.merge({"string": strict_string}),
    )
    extended = base.extend(RuleSet(rules=[]))
    assert extended.registry.resolve("string") is strict_string
    df = spark.createDataFrame([("ab",), ("abcd",)], "v string")
    got = [r[0] for r in df.select(extended.compile()["s"]).collect()]
    assert got == [False, True]  # the strict local shadow survived


def test_migration_delta_flips_and_culprits(spark):
    from xmlschemavalidator_spark.engine import migration_delta

    old = _ruleset()
    # v2: tighten chars max 42->40, drop lang 'de', add a new parity rule
    from xmlschemavalidator_spark.compiler import ExprRule

    new = RuleSet(
        rules=[
            FieldRule(
                "lang_enum",
                Restriction(facets=(Enumeration("en"), Enumeration("sv"))),
                column="lang",
            ),
            FieldRule(
                "chars_range",
                Restriction(base="integer", facets=(MinInclusive(36), MaxInclusive(40))),
                column="n_chars",
            ),
            FieldRule("url_required", RequiredAttr(), column="url"),
            FieldRule("even_chars", ExprRule("n_chars % 2 = 0"), observed="n_chars"),
        ]
    )
    got = {
        r["url"]: (r["change"], r["newly_failed"])
        for r in migration_delta(_docs(spark), old, new, key="url").collect()
    }
    # u1 passed v1; v2 keeps it (en, 40, even) -> no flip
    # u2 passed v1; v2 rejects: lang de dropped AND chars 36 even ok -> tightened
    assert got == {"u2": ("tightened", "lang_enum")}


def test_migration_delta_loosened_rows(spark):
    from xmlschemavalidator_spark.engine import migration_delta

    old = _ruleset()
    # v2 widens the enum so u3 (xx) now passes -> loosened, empty culprit list
    new = RuleSet(
        rules=[
            FieldRule(
                "lang_enum",
                Restriction(
                    facets=(Enumeration("en"), Enumeration("de"), Enumeration("sv"), Enumeration("xx"))
                ),
                column="lang",
            ),
            FieldRule(
                "chars_range",
                Restriction(base="integer", facets=(MinInclusive(36), MaxInclusive(42))),
                column="n_chars",
            ),
            FieldRule("url_required", RequiredAttr(), column="url"),
        ]
    )
    got = {
        r["url"]: (r["change"], r["newly_failed"])
        for r in migration_delta(_docs(spark), old, new, key="url").collect()
    }
    assert got == {"u3": ("loosened", "")}


def test_migration_delta_plan_is_narrow(spark):
    """Both rule versions evaluate in one scan: no Exchange in the plan."""
    from xmlschemavalidator_spark.engine import migration_delta

    plan = migration_delta(_docs(spark), _ruleset(), _ruleset(), key="url")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_expectation_summary_mostly_thresholds(spark):
    from xmlschemavalidator_spark.engine import expectation_summary

    # lang_enum passes 3/6 = 0.5; chars_range 4/6 ~ 0.6667; url_required 6/6
    res = expectation_summary(
        _docs(spark),
        _ruleset(),
        mostly={"lang_enum": 0.5, "chars_range": 0.9},
    )
    got = {r["rule_id"]: (r["n_pass"], r["pass_rate"], r["mostly"], r["ok"]) for r in res.collect()}
    assert got["lang_enum"] == (3, 0.5, 0.5, True)         # exactly at threshold -> ok
    assert got["chars_range"] == (4, 0.666667, 0.9, False)
    assert got["url_required"] == (6, 1.0, 1.0, True)      # default_mostly=1.0 strict
    assert all(r["n_rows"] == 6 for r in res.collect())


def test_expectation_summary_single_aggregate_plan(spark):
    """All rules' pass counts come from ONE aggregate over one scan."""
    from xmlschemavalidator_spark.engine import expectation_summary

    plan = (
        expectation_summary(_docs(spark), _ruleset())
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan ExistingRDD") == 1


def test_expectation_summary_by_segment(spark):
    from xmlschemavalidator_spark.engine import expectation_summary

    res = expectation_summary(
        _docs(spark), _ruleset(), mostly={"lang_enum": 0.5}, by=["lang"]
    )
    got = {
        (r["lang"], r["rule_id"]): (r["n_rows"], r["n_pass"], r["ok"])
        for r in res.collect()
    }
    # en segment: u1, u4 -> lang passes 2/2; chars fails on u4 (35)
    assert got[("en", "lang_enum")] == (2, 2, True)
    assert got[("en", "chars_range")] == (2, 1, False)
    # xx segment: u3 only -> lang_enum 0/1 < 0.5
    assert got[("xx", "lang_enum")] == (1, 0, False)
    # NULL lang groups normally
    assert got[(None, "lang_enum")] == (1, 0, False)
    assert len(got) == 5 * 3  # segments en, de, xx, yy, NULL x 3 rules


def test_expectation_summary_by_segment_group_count(spark):
    from xmlschemavalidator_spark.engine import expectation_summary

    res = expectation_summary(_docs(spark), _ruleset(), by=["lang"])
    # segments: en, de, xx, yy, NULL -> 5 x 3 rules
    assert res.count() == 5 * 3


def test_rule_cooccurrence_counts_and_lift(spark):
    from xmlschemavalidator_spark.engine import rule_cooccurrence

    got = {
        (r["rule_a"], r["rule_b"]): r
        for r in rule_cooccurrence(_docs(spark), _ruleset()).collect()
    }
    assert len(got) == 3  # C(3,2)
    r = got[("chars_range", "lang_enum")]
    # chars fails u4,u5 (2); lang fails u3,u5,u6 (3); both: u5 (1)
    assert (r["n_fail_a"], r["n_fail_b"], r["n_both"]) == (2, 3, 1)
    assert r["lift"] == 1.0  # 1*6/(2*3)
    assert r["jaccard"] == 0.25  # 1/(2+3-1)
    # url_required never fails -> lift NULL (zero marginal, never a
    # div-by-zero); jaccard 0.0 (union nonempty, intersection empty)
    r2 = got[("chars_range", "url_required")]
    assert (r2["n_fail_b"], r2["n_both"], r2["lift"], r2["jaccard"]) == (0, 0, None, 0.0)


def test_rule_cooccurrence_single_scan_plan(spark):
    from xmlschemavalidator_spark.engine import rule_cooccurrence

    plan = (
        rule_cooccurrence(_docs(spark), _ruleset())
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan ExistingRDD") == 1


def test_rule_cooccurrence_one_rule_raises_value_error(spark):
    """One rule has no pair: a ValueError, not a ParseException from an
    empty ``stack(0, )``."""
    from xmlschemavalidator_spark.engine import rule_cooccurrence

    with pytest.raises(ValueError):
        rule_cooccurrence(_docs(spark), RuleSet(rules=[_ruleset().rules[0]]))


def test_violation_examples_deterministic_per_rule(spark):
    from xmlschemavalidator_spark.engine import violation_examples

    rows = [(i, "r1" if i % 3 else "r2", str(i)) for i in range(60)]
    v = spark.createDataFrame(rows, "doc_id long, rule_id string, observed_value string")
    ex = violation_examples(v, k=4)
    got = sorted(
        (r["rule_id"], r["example_rank"], r["doc_id"]) for r in ex.collect()
    )
    # exactly k per rule, ranks 1..k, and rerunning yields the same set
    assert len(got) == 8
    assert sorted(r for r, _, _ in got) == ["r1"] * 4 + ["r2"] * 4
    again = sorted(
        (r["rule_id"], r["example_rank"], r["doc_id"])
        for r in violation_examples(v, k=4).collect()
    )
    assert got == again
    # fewer violations than k: all surface
    few = violation_examples(v.where("rule_id = 'r2' AND doc_id < 9"), k=10)
    assert few.count() == 3


def test_rule_rate_intervals_wilson(spark):
    import math as _m

    from xmlschemavalidator_spark.compiler import FieldRule, RuleSet
    from xmlschemavalidator_spark.engine import rule_rate_intervals
    from xmlschemavalidator_spark.rules.facets import MaxInclusive, MinInclusive
    from xmlschemavalidator_spark.rules.types import Restriction

    # 100 rows, rule fails on 20 of them
    df = spark.createDataFrame([(i, i) for i in range(100)], "doc_id long, v long")
    rs = RuleSet(rules=[FieldRule(
        "v_max79", Restriction(base="integer", facets=(MinInclusive(0), MaxInclusive(79))),
        column="v")])
    [r] = rule_rate_intervals(df, rs, slo_fail_micro=100_000).collect()
    p, n, z = 0.2, 100.0, 1.96
    z2n = z * z / n
    center = (p + z2n / 2) / (1 + z2n)
    half = z * _m.sqrt(p * 0.8 / n + z * z / (4 * n * n)) / (1 + z2n)
    assert (r["n_rows"], r["n_fail"], r["fail_rate"]) == (100, 20, 0.2)
    assert r["ci_lo"] == round(center - half, 6)
    assert r["ci_hi"] == round(center + half, 6)
    # 20% with n=100: CI bottom ~0.134 > 10% SLO -> confident breach
    assert r["breaches_slo"] is True
    # same rate at tiny n: the interval spans the SLO -> no page
    tiny = spark.createDataFrame([(i, 100 if i < 1 else 0) for i in range(5)],
                                 "doc_id long, v long")
    [t] = rule_rate_intervals(tiny, rs, slo_fail_micro=100_000).collect()
    assert t["fail_rate"] == 0.2 and t["breaches_slo"] is False


def test_rule_rate_intervals_empty_input_is_null(spark):
    """No rows: NULL rate, bounds and SLO verdict (as expectation_summary's
    pass_rate and ok), never DIVIDE_BY_ZERO under ANSI mode."""
    from xmlschemavalidator_spark.engine import rule_rate_intervals

    empty = _docs(spark).limit(0)
    rows = rule_rate_intervals(empty, _ruleset()).collect()
    assert sorted(r["rule_id"] for r in rows) == sorted(_ruleset().compile())
    for r in rows:
        assert r["n_rows"] == 0
        assert (r["fail_rate"], r["ci_lo"], r["ci_hi"], r["breaches_slo"]) == (
            None, None, None, None)


def test_rule_cofire_matrix_hand_computed(spark):
    from xmlschemavalidator_spark.compiler import FieldRule, RuleSet
    from xmlschemavalidator_spark.engine import rule_cofire
    from xmlschemavalidator_spark.rules.facets import MaxInclusive, MinInclusive
    from xmlschemavalidator_spark.rules.types import Restriction

    # v in 0..9: a fails on v>=6 (4 rows), b fails on v>=8 (2 rows,
    # strict subset of a), c fails on v<=1 (2 rows, disjoint from a)
    df = spark.createDataFrame([(i,) for i in range(10)], "v long")
    rs = RuleSet(rules=[
        FieldRule("a_max5", Restriction(base="integer",
                  facets=(MinInclusive(0), MaxInclusive(5))), column="v"),
        FieldRule("b_max7", Restriction(base="integer",
                  facets=(MinInclusive(0), MaxInclusive(7))), column="v"),
        FieldRule("c_min2", Restriction(base="integer",
                  facets=(MinInclusive(2), MaxInclusive(100))), column="v"),
    ])
    out = {(r["rule_a"], r["rule_b"]): r for r in rule_cofire(df, rs).collect()}
    assert len(out) == 3
    ab = out[("a_max5", "b_max7")]
    # b's failures are a strict subset of a's: conf(b->a) = 1, jaccard 2/4
    assert (ab["n_fail_a"], ab["n_fail_b"], ab["n_both"]) == (4, 2, 2)
    assert ab["conf_b_to_a_micro"] == 1_000_000
    assert ab["conf_a_to_b_micro"] == 500_000
    assert ab["jaccard_micro"] == 500_000
    ac = out[("a_max5", "c_min2")]
    assert ac["n_both"] == 0 and ac["jaccard_micro"] == 0

    import pytest as _pt
    with _pt.raises(ValueError):
        rule_cofire(df, RuleSet(rules=[rs.rules[0]]))


def test_compile_cache_sees_added_rule(spark):
    """The memoized compile snapshots the rule list: a rule added after a
    first validate() shows up in the next one's verdicts and violations."""
    df, rs = _docs(spark), _ruleset()
    assert ok_col_name("chars_max40") not in validate(df, rs, key="url").verdicts.columns
    rs.add(FieldRule(
        "chars_max40",
        Restriction(base="integer", facets=(MaxInclusive(40),)),
        column="n_chars",
    ))
    res = validate(df, rs, key="url")
    got = {r["url"]: r[ok_col_name("chars_max40")] for r in res.verdicts.collect()}
    assert got == {"u1": True, "u2": True, "u3": False, "u4": True, "u5": False, "u6": True}
    viols = {(u, o) for u, rid, o in res.violations.collect() if rid == "chars_max40"}
    assert viols == {("u3", "42"), ("u5", "43")}


def test_compile_cache_sees_rule_replaced_in_place(spark):
    df, rs = _docs(spark), _ruleset()
    first = validate(df, rs, key="url").violations.collect()
    assert {(u, o) for u, rid, o in first if rid == "lang_enum"} == {
        ("u3", "xx"), ("u5", "yy"), ("u6", None)
    }
    rs.rules[0] = FieldRule(
        "lang_enum", Restriction(facets=(Enumeration("xx"),)), column="lang"
    )
    res = validate(df, rs, key="url")
    got = {r["url"]: r[ok_col_name("lang_enum")] for r in res.verdicts.collect()}
    assert got == {"u1": False, "u2": False, "u3": True, "u4": False, "u5": False, "u6": False}
    viols = {(u, o) for u, rid, o in res.violations.collect() if rid == "lang_enum"}
    assert viols == {("u1", "en"), ("u2", "de"), ("u4", "en"), ("u5", "yy"), ("u6", None)}


def test_compile_cache_sees_registry_redefine(spark):
    """``TypeRegistry.define`` rebinds a named type in place; a rule whose
    ``Restriction(base=name)`` resolves it must pick up the new binding."""
    df = _docs(spark)
    rs = RuleSet(rules=[FieldRule("chars_small", Restriction(base="small"), column="n_chars")])
    rs.registry.define("small", Restriction(base="integer", facets=(MaxInclusive(40),)))
    first = validate(df, rs, key="url").violations.collect()
    assert sorted(r["url"] for r in first) == ["u3", "u5"]
    rs.registry.define("small", Restriction(base="integer", facets=(MaxInclusive(36),)))
    res = validate(df, rs, key="url")
    got = {r["url"]: r[ok_col_name("chars_small")] for r in res.verdicts.collect()}
    assert got == {"u1": False, "u2": True, "u3": False, "u4": True, "u5": False, "u6": False}
    assert sorted(tuple(r) for r in res.violations.collect()) == [
        ("u1", "chars_small", "40"),
        ("u3", "chars_small", "42"),
        ("u5", "chars_small", "43"),
        ("u6", "chars_small", "40"),
    ]


def test_compile_returns_a_copy(spark):
    rs = _ruleset()
    rs.compile().pop("lang_enum")
    assert set(rs.compile()) == {"lang_enum", "chars_range", "url_required"}


def test_second_call_compiles_no_rule(spark, monkeypatch):
    """Compile once: on the second call with the same RuleSet (or schema
    root, or the flagship), ``compile_rule`` runs zero times and the rows
    are the same."""
    from xmlschemavalidator_spark import compiler, datagen
    from xmlschemavalidator_spark.flagship import run_flagship
    from xmlschemavalidator_spark.xsd import parse_xsd

    calls = []
    real = compiler.compile_rule
    monkeypatch.setattr(
        compiler, "compile_rule", lambda *a: calls.append(a) or real(*a)
    )

    def rows(res, key):
        return (
            sorted(tuple(r) for r in res.verdicts.select(key, DOC_OK).collect()),
            sorted(tuple(r) for r in res.violations.collect()),
        )

    def twice(call, key):
        first = rows(call(), key)
        n_first = len(calls)
        second = rows(call(), key)
        assert len(calls) == n_first, "second call compiled rules again"
        assert second == first
        return n_first

    df, rs = _docs(spark), _ruleset()
    assert twice(lambda: validate(df, rs, key="url"), "url") == 3

    schema = parse_xsd("""<schema>
      <simpleType name="langtype">
        <restriction base="string">
          <enumeration value="en"/><enumeration value="de"/>
        </restriction>
      </simpleType>
      <complexType name="doctype">
        <sequence>
          <element name="lang" type="langtype"/>
          <element name="n" type="integer"/>
        </sequence>
        <attribute name="source" type="string" use="required"/>
      </complexType>
      <element name="document" type="doctype"/>
    </schema>""")
    docs = spark.createDataFrame(
        [
            ("d1", '<document source="s"><lang>en</lang><n>1</n></document>'),
            ("d2", "<document><lang>xx</lang><n>z</n></document>"),
        ],
        "doc_id string, xml string",
    )
    calls.clear()
    n_xsd = twice(
        lambda: schema.validate_xml_column(docs, "xml", root="document", key="doc_id"),
        "doc_id",
    )
    assert n_xsd > 0

    pages = datagen.pages(spark, 200, seed=3)
    twice(lambda: run_flagship(pages), "url")

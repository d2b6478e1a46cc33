"""Per-facet unit tests with the reference's boundary values ported verbatim
(FIXTURES.md §2): range [36,42] with 35/43 failing (core_test.clj:20-28),
enum {small,medium,large} (core_test.clj:8-18), anchored pattern
(parser_test.clj:184-198), length facets (parser_test.clj:184-190)."""

from __future__ import annotations

from pyspark.sql import functions as F

from xmlschemavalidator_spark.rules.facets import (
    Enumeration,
    Length,
    MaxExclusive,
    MaxInclusive,
    MaxLength,
    MinExclusive,
    MinInclusive,
    MinLength,
    Pattern,
    combine_facets,
)


def eval_facet(spark, facet, values):
    df = spark.createDataFrame([(v,) for v in values], "v string" if all(
        isinstance(v, str) or v is None for v in values
    ) else "v bigint")
    out = df.select(facet.to_column(F.col("v")).alias("ok")).collect()
    return [r.ok for r in out]


def test_range_inclusive_boundaries(spark):
    # core_test.clj:20-28 — [36, 42]: 36 ok, 42 ok, 35 fail, 43 fail
    df = spark.createDataFrame([(36,), (42,), (35,), (43,)], "v bigint")
    ok = combine_facets([MinInclusive(36), MaxInclusive(42)], F.col("v"))
    assert [r.ok for r in df.select(ok.alias("ok")).collect()] == [True, True, False, False]


def test_range_exclusive(spark):
    df = spark.createDataFrame([(36,), (37,), (41,), (42,)], "v bigint")
    ok = combine_facets([MinExclusive(36), MaxExclusive(42)], F.col("v"))
    assert [r.ok for r in df.select(ok.alias("ok")).collect()] == [False, True, True, False]


def test_enumeration_or_semantics(spark):
    # enum facets OR together (core.clj:66-71); {small,medium,large}
    facets = [Enumeration("small"), Enumeration("medium"), Enumeration("large")]
    assert eval_facet(spark, Enumeration("small"), ["small", "asdf"]) == [True, False]
    df = spark.createDataFrame([("small",), ("large",), ("asdf",), (None,)], "v string")
    ok = combine_facets(facets, F.col("v"))
    assert [r.ok for r in df.select(ok.alias("ok")).collect()] == [True, True, False, False]


def test_enum_and_range_mix(spark):
    # enums OR'd, then AND'd with the other facets
    df = spark.createDataFrame([(1,), (5,), (7,)], "v bigint")
    ok = combine_facets([Enumeration(1), Enumeration(5), MaxInclusive(5)], F.col("v"))
    assert [r.ok for r in df.select(ok.alias("ok")).collect()] == [True, True, False]


def test_pattern_full_string_anchored(spark):
    # parser_test.clj:184-198 — [A-Z][A-Z] must match the WHOLE string:
    # substring matches must NOT pass (Java String.matches semantics).
    p = Pattern("[A-Z][A-Z]")
    assert eval_facet(spark, p, ["AB", "ZZ", "aB", "ABC", "xABy", None]) == [
        True, True, False, False, False, False,
    ]


def test_length_facets(spark):
    # parser_test.clj:184-190 — length=10 exact
    assert eval_facet(spark, Length(10), ["1234567890", "123456789", "1234567890a"]) == [
        True, False, False,
    ]
    # spec semantics (>= / <=) — the reference v2 bug (strict >) is NOT replicated
    assert eval_facet(spark, MinLength(3), ["abc", "ab", "abcd"]) == [True, False, True]
    assert eval_facet(spark, MaxLength(3), ["abc", "abcd", "ab"]) == [True, False, True]


def test_null_never_satisfies_facet(spark):
    df = spark.createDataFrame([(None,), (36,)], "v bigint")
    ok = MinInclusive(36).to_column(F.col("v"))
    assert [r[0] for r in df.select(ok).collect()] == [False, True]


def test_sql_rendering_matches_duckdb(spark):
    """Every facet's sql_expr must agree with its Column on the same data."""
    import duckdb

    values = ["AB", "aB", "1234567890", "small", "x", None]
    facets = [
        Pattern("[A-Z][A-Z]"),
        Length(10),
        MinLength(2),
        MaxLength(5),
        Enumeration("small"),
    ]
    df = spark.createDataFrame([(v,) for v in values], "v string")
    con = duckdb.connect()
    con.execute("CREATE TABLE t(v VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in values])
    for f in facets:
        spark_ok = [r[0] for r in df.select(f.to_column(F.col("v"))).collect()]
        duck_ok = [
            bool(r[0]) if r[0] is not None else None
            for r in con.execute(f"SELECT coalesce({f.sql_expr('v')}, FALSE) FROM t").fetchall()
        ]
        assert spark_ok == duck_ok, f"divergence for {f}"


def test_total_and_fraction_digits(spark):
    from xmlschemavalidator_spark.rules.facets import FractionDigits, TotalDigits

    vals = ["123", "1234", "0", "007", "1.50", "0.123", "12.34", "1e5", "abc", None, "-123"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    td = [r[0] for r in df.select(TotalDigits(3).to_column(F.col("v"))).collect()]
    #        123  1234   0   007(→7) 1.50(→1.5=2) 0.123(3) 12.34(4) 1e5 abc None -123
    assert td == [True, False, True, True, True, True, False, False, False, False, True]
    fd = [r[0] for r in df.select(FractionDigits(1).to_column(F.col("v"))).collect()]
    assert fd == [True, True, True, True, True, False, False, False, False, False, True]


def test_digit_facets_sql_parity(spark):
    import duckdb

    from xmlschemavalidator_spark.rules.facets import FractionDigits, TotalDigits

    vals = ["123", "1234", "0", "007", "1.50", "0.123", "12.34", "1e5",
            "abc", None, "-123", "+4.20", ".5", "5.", "000.000"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    con = duckdb.connect()
    import pandas as pd

    con.register("t", pd.DataFrame({"v": vals}))
    for facet in (TotalDigits(3), FractionDigits(1)):
        got = [r[0] for r in df.select(facet.to_column(F.col("v"))).collect()]
        want = [r[0] for r in con.execute(
            f"SELECT {facet.sql_expr('v')} FROM t").fetchall()]
        assert got == want, (facet, got, want)


def test_whitespace_facet_modes(spark):
    from xmlschemavalidator_spark.rules.facets import Enumeration
    from xmlschemavalidator_spark.rules.types import PREDEF_TYPES, Restriction, WhiteSpace

    inner = Restriction(facets=(Enumeration("a b"),))
    df = spark.createDataFrame(
        [("a b",), ("a\tb",), ("  a   b  ",), ("a\n\nb",)], "v string"
    )
    def run(mode):
        t = WhiteSpace(mode, inner)
        return [r[0] for r in df.select(t.to_column(F.col("v"), PREDEF_TYPES)).collect()]

    assert run("preserve") == [True, False, False, False]
    assert run("replace") == [True, True, False, False]   # tab -> one space
    assert run("collapse") == [True, True, True, True]


def test_whitespace_xsd_parse_and_sql_parity(spark):
    import duckdb
    import pandas as pd

    from xmlschemavalidator_spark.xsd import compile_fragment
    from xmlschemavalidator_spark.rules.types import PREDEF_TYPES

    t = compile_fragment(
        """<simpleType><restriction base="string">
             <whiteSpace value="collapse"/>
             <enumeration value="a b"/>
           </restriction></simpleType>"""
    )
    vals = ["a b", "a\tb", "  a   b  ", "a  \n b", "ab", None]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [r[0] for r in df.select(t.to_column(F.col("v"), PREDEF_TYPES)).collect()]
    assert got == [True, True, True, True, False, False]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"v": vals}))
    want = [r[0] for r in con.execute(
        f"SELECT {t.sql_expr('v', PREDEF_TYPES)} FROM t").fetchall()]
    assert [bool(w) if w is not None else False for w in want] == got


def test_quoted_literals_compile_sql_duckdb_parity(spark):
    """Rule values holding a single quote render through
    RuleSet.compile_sql() into valid DuckDB SQL whose verdicts equal
    Spark's, for both an Enumeration facet and a FixedAttr."""
    import duckdb

    from xmlschemavalidator_spark.compiler import FieldRule, RuleSet
    from xmlschemavalidator_spark.engine import ok_col_name, validate
    from xmlschemavalidator_spark.rules.attributes import FixedAttr
    from xmlschemavalidator_spark.rules.types import Restriction

    rows = [
        (1, "O'Brien", "it's"),
        (2, "O''Brien", "its"),
        (3, "'", "it's "),
        (4, "OBrien", None),
        (5, None, "it''s"),
        (6, "''", "it's"),
    ]
    rs = RuleSet(rules=[
        FieldRule("name_enum", Restriction(facets=(Enumeration("O'Brien"), Enumeration("'"))),
                  column="name"),
        FieldRule("tag_fixed", FixedAttr("it's"), column="tag"),
    ])
    df = spark.createDataFrame(rows, "id int, name string, tag string")
    cols = [ok_col_name(r) for r in rs.rule_ids()]
    got = {r["id"]: tuple(r[c] for c in cols)
           for r in validate(df, rs, key="id").verdicts.select("id", *cols).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE t(id INTEGER, name VARCHAR, tag VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    sqls = rs.compile_sql()
    duck = {r[0]: tuple(r[1:]) for r in con.execute(
        f"SELECT id, {sqls['name_enum']}, {sqls['tag_fixed']} FROM t").fetchall()}

    assert got == duck
    assert got[1] == (True, True) and got[3] == (True, False)
    assert got[2] == (False, False) and got[6] == (False, True)

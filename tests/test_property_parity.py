"""Property-based Spark↔DuckDB parity: random facet parameters and random
(string/number/null) values must produce identical verdicts through the
Column compiler and the sql_expr rendering — the generalization of the
hand-picked boundary tests."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
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
)
from xmlschemavalidator_spark.rules.types import PREDEF_TYPES, Restriction, Union

# value pool: numeric-looking strings, plain words, empties, nulls —
# exercising the dynamic-typing boundary (special-read-string semantics)
VALUES = st.lists(
    st.one_of(
        st.integers(-200, 200).map(str),
        st.floats(-100, 100, allow_nan=False).map(lambda f: f"{f:.3f}"),
        st.sampled_from(["small", "medium", "large", "asdf", "", " ", "12abc"]),
        st.none(),
    ),
    min_size=1,
    max_size=8,
)

BOUNDS = st.tuples(st.integers(-150, 150), st.integers(-150, 150)).map(
    lambda t: (min(t), max(t))
)


def _rule_strategy():
    range_rule = BOUNDS.map(
        lambda b: Restriction(
            base="integer", facets=(MinInclusive(b[0]), MaxInclusive(b[1]))
        )
    )
    excl_rule = BOUNDS.map(
        lambda b: Restriction(facets=(MinExclusive(b[0]), MaxExclusive(b[1])))
    )
    enum_rule = st.lists(
        st.sampled_from(["small", "medium", "large", "42", "0"]), min_size=1, max_size=3
    ).map(lambda vs: Restriction(facets=tuple(Enumeration(v) for v in vs)))
    len_rule = st.tuples(st.integers(0, 6), st.integers(0, 12)).map(
        lambda t: Restriction(
            facets=(MinLength(min(t)), MaxLength(max(t)))
        )
    )
    exact_len = st.integers(0, 8).map(lambda n: Restriction(facets=(Length(n),)))
    union_rule = st.tuples(BOUNDS, st.sampled_from(["small", "large"])).map(
        lambda t: Union(
            members=(
                Restriction(base="integer", facets=(MinInclusive(t[0][0]), MaxInclusive(t[0][1]))),
                Restriction(base="string", facets=(Enumeration(t[1]),)),
            )
        )
    )
    return st.one_of(range_rule, excl_rule, enum_rule, len_rule, exact_len, union_rule)


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rule=_rule_strategy(), values=VALUES)
def test_spark_duckdb_verdict_parity(spark, duck, rule, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    spark_ok = [
        bool(r[0]) for r in df.select(
            F.coalesce(rule.to_column(F.col("v"), PREDEF_TYPES), F.lit(False))
        ).collect()
    ]
    sql = rule.sql_expr("v", PREDEF_TYPES)
    duck.execute("CREATE OR REPLACE TABLE t(v VARCHAR)")
    duck.executemany("INSERT INTO t VALUES (?)", [(v,) for v in values])
    duck_ok = [bool(r[0]) for r in duck.execute(
        f"SELECT coalesce({sql}, FALSE) FROM t").fetchall()]
    assert spark_ok == duck_ok, f"divergence for {rule} on {values}"


LIST_VALUES = st.lists(
    st.one_of(
        st.lists(
            st.one_of(
                st.integers(-200, 200).map(str),
                st.sampled_from(["x", "3.5", "12abc", ""]),
            ),
            max_size=5,
        ).map(" ".join),
        st.sampled_from(["", "   ", "\t1\t2\t"]),
        st.none(),
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(values=LIST_VALUES, bounds=BOUNDS)
def test_list_type_parity(spark, values, bounds):
    """xs:list verdicts agree between the Column compiler and the DuckDB
    sql_expr rendering for random token lists and random item ranges."""
    from xmlschemavalidator_spark.rules.types import ListType

    lo, hi = bounds
    item = Restriction(base="integer", facets=(MinInclusive(lo), MaxInclusive(hi)))
    t = ListType(item=item)
    df = spark.createDataFrame([(v,) for v in values], "v string")
    spark_ok = [r[0] for r in df.select(t.to_column(F.col("v"), PREDEF_TYPES)).collect()]
    import pandas as pd

    con = duckdb.connect()
    con.register("tbl", pd.DataFrame({"v": pd.array(values, dtype="string")}))
    sql = t.sql_expr("v", PREDEF_TYPES)
    duck_ok = [r[0] for r in con.execute(f"SELECT {sql} FROM tbl").fetchall()]
    assert spark_ok == duck_ok


# --------------------------------------------------------------------------
# formula identities behind the new exact analyzers (pure Python — the
# Spark sides are pinned by their own unit/oracle tests; these pin the
# MATH the implementations chose)
# --------------------------------------------------------------------------


@given(st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=40))
def test_gini_rank_form_equals_pairwise_definition(xs):
    """Σ(2i−n−1)·x(i) / (n·Σx) — the one-sort form gini_coefficient
    computes — is exactly the mean-absolute-difference definition
    ΣΣ|xi−xj| / (2n·Σx)."""
    n, s = len(xs), sum(xs)
    if s == 0:
        return
    xs_sorted = sorted(xs)
    rank_num = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs_sorted))
    pair_num = sum(abs(a - b) for a in xs for b in xs) // 1  # integer
    assert 2 * rank_num == pair_num

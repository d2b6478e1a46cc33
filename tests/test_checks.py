"""Dataset-level check tests: stats, distinct, uniqueness, referential,
histogram, KS drift — exact expectations on tiny frames plus plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xmlschemavalidator_spark.checks.drift import histogram, ks_drift, quantile_drift
from xmlschemavalidator_spark.checks.referential import (
    referential_violation_counts,
    referential_violations,
)
from xmlschemavalidator_spark.checks.stats import column_stats, distinct_counts, length_histogram
from xmlschemavalidator_spark.checks.uniqueness import duplicate_keys, uniqueness_violations


def test_checks_stats_import_loads_no_sibling_checks():
    """Importing one ``checks`` module loads only what it imports: the
    package ``__init__`` pulls in no sibling, so a job that needs
    ``checks.stats`` never loads ``checks.uniqueness`` or
    ``checks.referential``."""
    import pathlib
    import subprocess
    import sys

    code = (
        "import sys\n"
        "import xmlschemavalidator_spark.checks.stats\n"
        "print(sorted(m for m in sys.modules\n"
        "             if m.startswith('xmlschemavalidator_spark.checks.')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=pathlib.Path(__file__).resolve().parent.parent,
        capture_output=True, text=True, check=True,
    ).stdout
    assert "xmlschemavalidator_spark.checks.stats" in out
    assert "checks.uniqueness" not in out
    assert "checks.referential" not in out


def test_column_stats_exact(spark):
    df = spark.createDataFrame(
        [("a", 1), ("bb", 2), (None, 3), ("dddd", None)], "s string, n bigint"
    )
    got = {r["column"]: r.asDict() for r in column_stats(df).collect()}
    assert got["s"]["n_rows"] == 4
    assert got["s"]["n_null"] == 1
    assert got["s"]["null_rate"] == 0.25
    assert got["s"]["min_value"] == "a"
    assert got["s"]["max_value"] == "dddd"
    assert got["s"]["avg_length"] == pytest.approx((1 + 2 + 4) / 3)
    assert got["n"]["n_null"] == 1
    assert got["n"]["min_value"] == "1"
    assert got["n"]["max_value"] == "3"


def test_column_stats_single_pass(spark):
    df = spark.createDataFrame([("a", 1)], "s string, n bigint")
    plan = column_stats(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("logicalrdd") == 1  # exactly one scan
    assert "Union" not in plan


def test_distinct_counts(spark):
    df = spark.createDataFrame([("a",), ("a",), ("b",), (None,)], "s string")
    exact = {r["column"]: r["n_distinct"] for r in distinct_counts(df, exact=True).collect()}
    assert exact["s"] == 2
    approx = {r["column"]: r["n_distinct"] for r in distinct_counts(df).collect()}
    assert approx["s"] == 2  # HLL exact at tiny cardinality


def test_duplicate_keys_salted_equals_plain(spark):
    data = [("u1",), ("u1",), ("u1",), ("u2",), ("u3",), ("u3",)]
    df = spark.createDataFrame(data, "url string").repartition(4)
    salted = sorted(tuple(r) for r in duplicate_keys(df, ["url"], salted=True).collect())
    plain = sorted(tuple(r) for r in duplicate_keys(df, ["url"], salted=False).collect())
    assert salted == plain == [("u1", 3), ("u3", 2)]


def test_uniqueness_violations_shape(spark):
    df = spark.createDataFrame([("u1",), ("u1",)], "url string")
    got = [tuple(r) for r in uniqueness_violations(df, ["url"], rule_id="uniq_url").collect()]
    assert got == [("u1", "uniq_url", "2")]


def test_referential_broadcast_and_nulls(spark):
    fact = spark.createDataFrame([(1,), (2,), (99,), (None,)], "k bigint")
    dim = spark.createDataFrame([(1,), (2,), (3,)], "dk bigint")
    v = referential_violations(fact, "k", dim, "dk", strategy="broadcast")
    got = sorted([(r["k"],) for r in v.collect()], key=lambda t: (t[0] is None, t[0]))
    assert got == [(99,), (None,)]
    # broadcast hint must survive into the optimized plan
    plan = v._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_referential_shuffle_hash(spark):
    fact = spark.createDataFrame([(1,), (99,)], "k bigint")
    dim = spark.createDataFrame([(1,)], "dk bigint")
    v = referential_violations(fact, "k", dim, "dk", strategy="shuffle_hash")
    assert sorted(r["k"] for r in v.collect()) == [99]
    plan = v._jdf.queryExecution().sparkPlan().toString()
    assert "ShuffledHashJoin" in plan


def test_referential_counts(spark):
    fact = spark.createDataFrame([(9,), (9,), (8,)], "k bigint")
    dim = spark.createDataFrame([(1,)], "dk bigint")
    got = sorted(tuple(r) for r in referential_violation_counts(fact, "k", dim, "dk").collect())
    assert got == [(8, 1), (9, 2)]


def test_histogram_and_ks_zero_drift(spark):
    df = spark.createDataFrame([(i % 10,) for i in range(100)], "v bigint")
    h = histogram(df, "v", bucket_width=2)
    assert sorted(tuple(r) for r in h.collect()) == [(i, 20) for i in range(5)]
    ks = ks_drift(h, h).collect()[0]["ks_stat"]
    assert ks == 0.0


def test_ks_detects_shift(spark):
    base = spark.createDataFrame([(i % 10,) for i in range(100)], "v bigint")
    shifted = spark.createDataFrame([(i % 10 + 5,) for i in range(100)], "v bigint")
    ks = ks_drift(
        histogram(shifted, "v", 1), histogram(base, "v", 1)
    ).collect()[0]["ks_stat"]
    assert ks == 0.5  # exact: half the mass is displaced


def test_quantile_drift_gap(spark):
    base = spark.createDataFrame([(float(i),) for i in range(1000)], "v double")
    cur = spark.createDataFrame([(float(i) + 100.0,) for i in range(1000)], "v double")
    rows = quantile_drift(cur, base, "v").collect()
    assert all(r["gap"] > 0.15 for r in rows)  # shift of 100 vs IQR 500
    same = quantile_drift(base, base, "v").collect()
    assert all(r["gap"] == 0.0 for r in same)


def test_length_histogram(spark):
    df = spark.createDataFrame([("a" * 5,), ("b" * 150,), ("c" * 150,)], "s string")
    got = sorted(tuple(r) for r in length_histogram(df, "s", 100).collect())
    assert got == [(0, 0, 1), (1, 100, 2)]


def test_ks_drift_degenerate_inputs(spark):
    """Empty/single-bucket corner cases (round-1 verdict item): an empty
    side yields NULL (undefined CDF), never a division by zero; identical
    single buckets → 0; disjoint single buckets → 1."""
    def hist(rows):
        return spark.createDataFrame(rows, "bucket long, n long")

    empty = spark.createDataFrame([], "bucket long, n long")
    one_a = hist([(1, 10)])
    one_b = hist([(5, 7)])

    assert ks_drift(empty, one_a).collect()[0]["ks_stat"] is None
    assert ks_drift(one_a, empty).collect()[0]["ks_stat"] is None
    assert ks_drift(empty, empty).collect()[0]["ks_stat"] is None
    assert ks_drift(one_a, one_a).collect()[0]["ks_stat"] == 0.0
    assert ks_drift(one_a, one_b).collect()[0]["ks_stat"] == 1.0


def test_tdigest_ks_disjoint_point_masses_score_one(spark):
    """Round-1 advisor finding: the mid-mass CDF convention halved the gap
    at atoms — two fully disjoint point-mass distributions scored 0.5.
    With both one-sided limits evaluated, they score 1.0."""
    import pandas as pd

    from xmlschemavalidator_spark.checks.tdigest import (
        digest_of,
        quantile_gap_drift,
    )

    a = spark.createDataFrame(pd.DataFrame({"v": [1.0] * 50}))
    b = spark.createDataFrame(pd.DataFrame({"v": [2.0] * 50}))
    da, db = digest_of(a, "v"), digest_of(b, "v")
    assert quantile_gap_drift(da, db) == 1.0
    assert quantile_gap_drift(da, da) == 0.0
    # shared atom, different masses: sup gap is the mass difference
    c = spark.createDataFrame(pd.DataFrame({"v": [1.0] * 25 + [2.0] * 75}))
    d = spark.createDataFrame(pd.DataFrame({"v": [1.0] * 75 + [2.0] * 25}))
    assert abs(quantile_gap_drift(digest_of(c, "v"), digest_of(d, "v")) - 0.5) < 1e-9


def test_heavy_hitters_exact_and_nulls(spark):
    from xmlschemavalidator_spark.checks.stats import heavy_hitters

    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [(None,)] * 2 + [("c",)],
        "v string",
    )
    got = [(r["value"], r["n"], r["share"]) for r in heavy_hitters(df, "v", k=3).collect()]
    assert got[0] == ("a", 5, round(5 / 11, 6))
    assert got[1] == ("b", 3, round(3 / 11, 6))
    assert got[2] == (None, 2, round(2 / 11, 6))  # null takeover is visible


def test_approx_heavy_hitters_verified_counts(spark):
    from xmlschemavalidator_spark.checks.stats import approx_heavy_hitters

    rows = [("hot",)] * 400 + [(f"cold{i}",) for i in range(100)]
    df = spark.createDataFrame(rows, "v string")
    got = {r["value"]: r["share"] for r in approx_heavy_hitters(df, "v", 0.5).collect()}
    assert set(got) == {"hot"}  # only the dominant value survives min_share
    assert abs(got["hot"] - 0.8) < 1e-6  # exact share from the verify pass


def test_robust_outliers_hampel_exact_median(spark):
    """MAD outliers with hand-computed lower medians: the fat-finger
    value that would wreck a mean/stddev gate is exactly what the
    median/MAD pair flags; rank-selected (never interpolated) medians
    keep the statistics actual data elements."""
    from xmlschemavalidator_spark.checks.stats import robust_outliers

    rows = [
        # group a: values 1..7 (med=4), devs {0..3} (mad=2 at rank 4)
        *[(i, "a", float(i)) for i in range(1, 8)],
        (99, "a", 1000.0),  # the outlier: dev 996 >> 3.5 * mad
        # group b: constant values -> mad 0, any deviation flags
        (201, "b", 5.0), (202, "b", 5.0), (203, "b", 5.0), (204, "b", 5.1),
        (205, "b", None),  # NULLs never rank, never flag
    ]
    df = spark.createDataFrame(rows, "event_id bigint, g string, v double")
    got = {
        (r["event_id"], r["g"]): (r["value"], r["med"], r["mad"])
        for r in robust_outliers(
            df, "v", "event_id", group_cols=("g",), k_tenths=35
        ).collect()
    }
    # group a: 8 values incl. 1000 -> lower median = rank 4 = 4.0; devs
    # sorted = [0,1,1,2,2,3,3,996] -> mad = 2.0; only 1000 exceeds 7.0
    assert got == {
        (99, "a"): (1000.0, 4.0, 2.0),
        (204, "b"): (5.1, 5.0, 0.0),  # the documented zero-MAD case
    }
    # ungrouped: one global median (5.0) and MAD (1.0) — both the
    # fat-finger 1000 (dev 995) and the tail value 1.0 (dev 4) exceed 3.5
    glob = robust_outliers(df, "v", "event_id", k_tenths=35)
    assert {r["event_id"] for r in glob.collect()} == {1, 99}


def test_chi_squared_drift_identical_and_shifted(spark):
    from xmlschemavalidator_spark.checks.drift import (
        categorical_histogram,
        chi_squared_drift,
    )

    a = spark.createDataFrame(
        [("en",)] * 6 + [("de",)] * 4, "lang string"
    )
    h = categorical_histogram(a, "lang")
    same = chi_squared_drift(h, h).collect()[0]
    assert same["chi2"] == 0.0
    assert same["n_categories"] == 2
    assert same["n_new_categories"] == 0

    # baseline 60/40, current 90/10: s_cur=(900000,100000) s_base=(600000,400000)
    # terms: 300000^2//600000=150000, 300000^2//400000=225000 -> chi2=0.375
    b = spark.createDataFrame([("en",)] * 9 + [("de",)] * 1, "lang string")
    got = chi_squared_drift(
        categorical_histogram(b, "lang"), h
    ).collect()[0]
    assert got["chi2"] == pytest.approx(0.375)

    # a category new in current contributes its full squared share / 1
    c = spark.createDataFrame([("en",)] * 5 + [("fr",)] * 5, "lang string")
    got = chi_squared_drift(categorical_histogram(c, "lang"), h).collect()[0]
    assert got["n_new_categories"] == 1
    assert got["chi2"] > 0.375  # 500000^2/1 micro-term dominates


def test_chi_squared_drift_empty_side_is_null(spark):
    from xmlschemavalidator_spark.checks.drift import (
        categorical_histogram,
        chi_squared_drift,
    )

    a = spark.createDataFrame([("en",)], "lang string")
    empty = spark.createDataFrame([], "lang string")
    row = chi_squared_drift(
        categorical_histogram(a, "lang"), categorical_histogram(empty, "lang")
    ).collect()[0]
    assert row["chi2"] is None  # no judgement over an undefined distribution


def test_benford_planted_digits(spark):
    from xmlschemavalidator_spark.checks.drift import benford_first_digit

    # values 1.0, 12.3, 170.0 -> first digit 1 (x3); 0.25 -> digit 2;
    # 0.004 -> floor(0.4)=0 dropped; -5 dropped; NULL dropped
    df = spark.createDataFrame(
        [(1.0,), (12.3,), (170.0,), (0.25,), (0.004,), (-5.0,), (None,)],
        "v double",
    )
    rows = {r["digit"]: r for r in benford_first_digit(df, "v").collect()}
    assert len(rows) == 9  # all digits present even with zero count
    assert rows[1]["n"] == 3 and rows[2]["n"] == 1
    assert rows[3]["n"] == 0
    assert rows[1]["share_micro"] == 750000
    assert rows[1]["dev_micro"] == 750000 - 301030
    assert sum(r["expected_micro"] for r in rows.values()) == 1_000_000


def test_fd_summary_and_violation_rows(spark):
    from xmlschemavalidator_spark.checks.fd import (
        fd_summary,
        fd_violating_keys,
        fd_violation_rows,
    )

    df = spark.createDataFrame(
        [
            (1, "o1", "alice"),
            (2, "o1", "alice"),
            (3, "o2", "bob"),
            (4, "o2", "carol"),  # o2 -> {bob, carol}: violation
            (5, "o3", None),     # NULL rhs is a value
            (6, "o3", "dave"),   # o3 -> {NULL, dave}: violation
        ],
        "id bigint, order_id string, customer string",
    )
    summ = {r["order_id"]: r for r in fd_summary(df, ["order_id"], "customer").collect()}
    assert summ["o1"]["n_rhs_values"] == 1 and summ["o1"]["n_rows"] == 2
    assert summ["o2"]["n_rhs_values"] == 2
    assert summ["o3"]["n_rhs_values"] == 2  # NULL counted

    bad = sorted(r["order_id"] for r in fd_violating_keys(df, ["order_id"], "customer").collect())
    assert bad == ["o2", "o3"]

    rows = sorted(
        tuple(r) for r in fd_violation_rows(df, ["order_id"], "customer", "id").collect()
    )
    assert [r[0] for r in rows] == [3, 4, 5, 6]
    assert rows[0][1] == "fd_order_id_to_customer"
    assert rows[2][2] is None  # observed NULL survives the cast


def test_fd_violation_rows_null_lhs_key(spark):
    from xmlschemavalidator_spark.checks.fd import fd_violation_rows

    # a violating NULL LHS group must still reach the violations sink
    # (null-safe semi join; null-unsafe '=' silently drops it)
    df = spark.createDataFrame(
        [(1, None, "en"), (2, None, "fr"), (3, "o1", "en")],
        "id bigint, order_id string, lang string",
    )
    rows = sorted(
        r["id"] for r in fd_violation_rows(df, ["order_id"], "lang", "id").collect()
    )
    assert rows == [1, 2]


def test_pearson_correlation_exact_line(spark):
    from xmlschemavalidator_spark.checks.stats import pearson_correlation

    # y = 2x exactly: corr == 1.0 whatever the quantization
    df = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 4.0), (3.0, 6.0), (4.0, 8.0)], "x double, y double"
    )
    row = pearson_correlation(df, "x", "y").collect()[0]
    assert row["n"] == 4 and row["corr"] == 1.0
    # cov of x=[1..4] with y=2x: sample cov = 2*var(x) = 2*(5/3)
    assert row["cov"] == pytest.approx(10.0 / 3.0, abs=1e-5)

    anti = spark.createDataFrame(
        [(1.0, -1.0), (2.0, -2.0), (3.0, -3.0)], "x double, y double"
    )
    assert pearson_correlation(anti, "x", "y").collect()[0]["corr"] == -1.0


def test_pearson_correlation_degenerate_null(spark):
    from xmlschemavalidator_spark.checks.stats import pearson_correlation

    const = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 5.0)], "x double, y double"
    )
    row = pearson_correlation(const, "x", "y").collect()[0]
    assert row["corr"] is None  # zero variance -> undefined, not div/0


def test_categorical_entropy(spark):
    import math

    from xmlschemavalidator_spark.checks.stats import categorical_entropy

    # uniform over 4 values -> ln(4); single value -> 0; NULL is a category
    u = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "s string")
    row = categorical_entropy(u, "s").collect()[0]
    assert row["entropy"] == pytest.approx(math.log(4), abs=1e-6)
    assert row["n_categories"] == 4

    one = spark.createDataFrame([("a",), ("a",)], "s string")
    assert categorical_entropy(one, "s").collect()[0]["entropy"] == 0.0

    withnull = spark.createDataFrame([("a",), (None,)], "s string")
    row = categorical_entropy(withnull, "s").collect()[0]
    assert row["n_categories"] == 2
    assert row["entropy"] == pytest.approx(math.log(2), abs=1e-6)


def test_order_violations_running_max_not_lag(spark):
    from xmlschemavalidator_spark.checks.sequence import order_violations

    # log order 1..4 for user A: ts 10:00, 12:00, 11:00, 11:30 —
    # rows 3 AND 4 trail the 12:00 watermark (lag alone would clear row 4)
    df = spark.createDataFrame(
        [
            (1, "A", "2024-01-01 10:00:00"),
            (2, "A", "2024-01-01 12:00:00"),
            (3, "A", "2024-01-01 11:00:00"),
            (4, "A", "2024-01-01 11:30:00"),
            (5, "B", "2024-01-01 09:00:00"),
        ],
        "id bigint, user string, ts_s string",
    ).select("id", "user", F.col("ts_s").cast("timestamp").alias("ts"))
    got = order_violations(df, key="user", ts="ts", order_col="id", id_col="id")
    rows = {r["id"]: r for r in got.collect()}
    assert sorted(rows) == [3, 4]
    assert rows[3]["prev_max_ts"] == "2024-01-01 12:00:00"
    assert rows[4]["prev_max_ts"] == "2024-01-01 12:00:00"


def test_sequence_gap_summary(spark):
    from xmlschemavalidator_spark.checks.sequence import sequence_gap_summary

    df = spark.createDataFrame(
        [
            ("o1", 1), ("o1", 2), ("o1", 4),            # gap: 3 missing
            ("o2", 1), ("o2", 1), ("o2", 2),            # duplicate 1
            ("o3", 5),                                   # single row, clean
            ("o4", None), ("o4", 1),                     # NULL excluded from range
        ],
        "k string, seq int",
    )
    got = {r["k"]: r for r in sequence_gap_summary(df, "k", "seq").collect()}
    assert (got["o1"]["n_missing"], got["o1"]["n_duplicates"]) == (1, 0)
    assert (got["o2"]["n_missing"], got["o2"]["n_duplicates"]) == (0, 1)
    assert (got["o3"]["n_missing"], got["o3"]["n_duplicates"]) == (0, 0)
    assert got["o4"]["n_rows"] == 2 and got["o4"]["n_distinct"] == 1
    assert got["o4"]["n_missing"] == 0
    # a NULL line number is a null-rate finding, NOT a duplicate
    assert got["o4"]["n_duplicates"] == 0


def test_moments_profile_known_distribution(spark):
    from xmlschemavalidator_spark.checks.stats import moments_profile

    # symmetric {1,2,3}: skewness 0; var = 1 (sample)
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "v double")
    row = moments_profile(df, "v").collect()[0]
    assert row["n"] == 3 and row["mean"] == 2.0
    assert row["variance"] == 1.0
    assert row["skewness"] == 0.0

    # right-skewed {0,0,0,10}: positive skewness
    sk = spark.createDataFrame([(0.0,), (0.0,), (0.0,), (10.0,)], "v double")
    assert moments_profile(sk, "v").collect()[0]["skewness"] > 1.0

    # constant column: shape moments undefined, never div/0
    const = spark.createDataFrame([(5.0,), (5.0,)], "v double")
    row = moments_profile(const, "v").collect()[0]
    assert row["variance"] == 0.0
    assert row["skewness"] is None and row["kurtosis"] is None


def test_trimmed_mean_exact(spark):
    from xmlschemavalidator_spark.checks.stats import trimmed_mean

    # 10 values per group; trim 10% -> k=1: drop min and max
    rows = [("g", i, float(v)) for i, v in enumerate([100, 1, 2, 3, 4, 5, 6, 7, 8, -50])]
    df = spark.createDataFrame(rows, "g string, id bigint, v double")
    got = trimmed_mean(df, "v", "id", trim_pct=10, group_cols=("g",)).collect()[0]
    assert got["n"] == 10 and got["n_trimmed_each_side"] == 1
    assert got["trimmed_mean"] == pytest.approx(sum([1, 2, 3, 4, 5, 6, 7, 8]) / 8)

    # trim 0 -> plain mean; invalid trim raises
    got0 = trimmed_mean(df, "v", "id", trim_pct=0, group_cols=("g",)).collect()[0]
    assert got0["trimmed_mean"] == pytest.approx(8.6)
    with pytest.raises(ValueError, match="trim_pct"):
        trimmed_mean(df, "v", "id", trim_pct=50)


def test_suggest_fds(spark):
    from xmlschemavalidator_spark.checks.fd import suggest_fds

    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "b", "y"), (4, "b", "y")],
        "id bigint, g string, h string",
    )
    got = {(r["lhs"], r["rhs"]): r["holds"] for r in suggest_fds(df, ["id", "g", "h"]).collect()}
    assert got[("id", "g")] is True          # id unique -> determines all
    assert got[("g", "h")] is True           # a->x, b->y
    assert got[("h", "g")] is True           # bijective here
    assert got[("g", "id")] is False         # one g, many ids

    with pytest.raises(ValueError, match="max_columns"):
        suggest_fds(df, ["id", "g", "h"], max_columns=2)


def test_suggest_fds_underscore_names_no_alias_collision(spark):
    from xmlschemavalidator_spark.checks.fd import suggest_fds

    # ('a','b_c') and ('a_b','c') would collide under name-concatenated
    # aliases; positional aliases keep the verdicts independent
    df = spark.createDataFrame(
        [(1, 1, "x", "p"), (2, 1, "y", "p")],
        "a bigint, a_b bigint, b_c string, c string",
    )
    got = {(r["lhs"], r["rhs"]): r["holds"]
           for r in suggest_fds(df, ["a", "a_b", "b_c", "c"]).collect()}
    assert got[("a", "b_c")] is True      # a unique
    assert got[("a_b", "b_c")] is False   # 1 -> {x, y}
    assert got[("a_b", "c")] is True      # 1 -> p


def test_equiheight_histogram_buckets(spark):
    from xmlschemavalidator_spark.checks.drift import equiheight_histogram

    # 10 rows, 5 buckets -> exactly 2 per bucket; skew doesn't matter
    rows = [(i, float(v)) for i, v in enumerate([1, 1, 1, 1, 1, 1, 1, 1, 100, 1000])]
    df = spark.createDataFrame(rows, "id bigint, v double")
    got = {r["bucket"]: r for r in equiheight_histogram(df, "v", "id", k=5).collect()}
    assert all(got[b]["n"] == 2 for b in range(1, 6))
    assert got[5]["hi"] == 1000.0 and got[5]["lo"] == 100.0
    assert got[1]["lo"] == 1.0


def test_schema_compat_changes(spark):
    from xmlschemavalidator_spark.checks.schema import schema_changes, schema_compat

    old = spark.createDataFrame([(1, "a", 2.0)], "id bigint, name string, v double")
    new = (
        old.withColumn("v", old.v.cast("float"))   # type_changed
        .drop("name")                               # column_removed
        .withColumn("extra", old.id)                # column_added
    )
    got = {(r["column"], r["change"]): r["compatible"] for r in schema_changes(old, new)}
    assert got[("extra", "column_added")] is True
    assert got[("name", "column_removed")] is False
    assert got[("v", "type_changed")] is False
    # identical schemas -> empty; and the DF form needs no job to build
    assert schema_changes(old, old) == []
    assert schema_compat(old, new).count() == 3


def test_ols_trend_recovers_planted_line(spark):
    from xmlschemavalidator_spark.checks.stats import ols_trend

    # y = 3x + 7 exactly for group a; zero x-variance for group b
    rows = [("a", float(x), 3.0 * x + 7.0) for x in range(10)]
    rows += [("b", 5.0, float(y)) for y in (1, 2, 3)]
    rows += [("a", None, 99.0), ("a", 1.0, None)]  # pairwise-complete drops
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {
        r["g"]: (r["n"], r["slope"], r["intercept"], r["r2"])
        for r in ols_trend(df, "x", "y", group_cols=("g",)).collect()
    }
    assert got["a"] == (10, 3.0, 7.0, 1.0)
    n, slope, intercept, r2 = got["b"]
    assert n == 3 and slope is None and intercept is None and r2 is None


def test_ols_trend_ungrouped_single_row(spark):
    from xmlschemavalidator_spark.checks.stats import ols_trend

    df = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 2.5), (3.0, 2.9)], "x double, y double"
    )
    out = ols_trend(df, "x", "y").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n"] == 3 and 0.4 < r["slope"] < 0.5 and r["r2"] > 0.98


def test_mutual_information_determined_and_independent(spark):
    import math

    from xmlschemavalidator_spark.checks.stats import mutual_information

    # y fully determined by x: MI == H(x) = ln(2) for a 50/50 split
    det = spark.createDataFrame(
        [("a", "A")] * 8 + [("b", "B")] * 8, "x string, y string"
    )
    r = mutual_information(det, "x", "y").collect()[0]
    assert abs(r["mi"] - math.log(2)) < 1e-6
    assert (r["n_rows"], r["n_x"], r["n_y"]) == (16, 2, 2)
    # independent columns: MI ~ 0
    ind = spark.createDataFrame(
        [(x, y) for x in ("a", "b") for y in ("A", "B") for _ in range(4)],
        "x string, y string",
    )
    assert abs(mutual_information(ind, "x", "y").collect()[0]["mi"]) < 1e-6


def test_mutual_information_null_is_a_category(spark):
    from xmlschemavalidator_spark.checks.stats import mutual_information

    df = spark.createDataFrame(
        [("a", None), ("a", None), ("b", "B"), ("b", "B")], "x string, y string"
    )
    r = mutual_information(df, "x", "y").collect()[0]
    assert r["n_y"] == 2 and r["mi"] > 0.6  # NULL-y fully determined by x


def test_concentration_uniform_vs_monopoly(spark):
    from xmlschemavalidator_spark.checks.stats import concentration

    uni = spark.createDataFrame([(c,) for c in "abcd" * 5], "s string")
    r = concentration(uni, "s").collect()[0]
    assert r["hhi"] == 0.25 and r["top_share"] == 0.25 and r["n_categories"] == 4
    mono = spark.createDataFrame([("a",)] * 9 + [("b",)], "s string")
    r2 = concentration(mono, "s").collect()[0]
    assert r2["hhi"] == 0.82 and r2["top_share"] == 0.9


def test_fd_g3_exact_and_violated(spark):
    from xmlschemavalidator_spark.checks.fd import fd_g3

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 3), ("b", 3), ("c", None)],
        "k string, v int",
    )
    # k->v: keep max per key: a:2, b:2, c:1 -> keep 5 of 6 -> g3 = 1/6
    row = fd_g3(df, ["k"], "v").collect()[0]
    assert (row["fd"], row["n_rows"], row["n_keep"]) == ("k->v", 6, 5)
    assert row["g3"] == round(1 / 6, 6)

    # exact FD: v -> v trivially holds, g3 = 0 (NULL counts as a value)
    row = fd_g3(df, ["v"], "v", name="trivial").collect()[0]
    assert (row["fd"], row["g3"]) == ("trivial", 0.0)


def test_fd_g3_null_lhs_groups_normally(spark):
    from xmlschemavalidator_spark.checks.fd import fd_g3

    df = spark.createDataFrame(
        [(None, "x"), (None, "x"), (None, "y"), ("k", "z")],
        "k string, v string",
    )
    row = fd_g3(df, ["k"], "v").collect()[0]
    # NULL key keeps 2 of 3; 'k' keeps 1 -> keep 3/4 -> g3 = 0.25
    assert (row["n_rows"], row["n_keep"], row["g3"]) == (4, 3, 0.25)


def test_theil_sen_hand_computed_and_robust(spark):
    from xmlschemavalidator_spark.checks.stats import ols_trend, theil_sen_trend

    # y = 2x + 1 exactly, with one wild outlier at x=5
    rows = [(i, float(i), 2.0 * i + 1.0) for i in range(5)] + [(5, 5.0, 500.0)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    [ts] = theil_sen_trend(df, "x", "y", "id").collect()
    # 15 pairs; the majority of pairwise slopes are exactly 2.0 -> median 2.0
    assert (ts["n"], ts["n_pairs"], ts["slope"], ts["intercept"]) == (6, 15, 2.0, 1.0)
    [ols] = ols_trend(df, "x", "y").collect()
    assert ols["slope"] > 30  # OLS dragged by the outlier; Theil-Sen is not


def test_theil_sen_groups_and_vertical_exclusion(spark):
    from xmlschemavalidator_spark.checks.stats import theil_sen_trend

    rows = [
        ("a", 1, 0.0, 1.0), ("a", 2, 1.0, 3.0), ("a", 3, 2.0, 5.0),
        ("b", 4, 7.0, 1.0), ("b", 5, 7.0, 9.0),  # only equal-x pairs: no row
    ]
    df = spark.createDataFrame(rows, "g string, id long, x double, y double")
    got = {r["g"]: r for r in theil_sen_trend(df, "x", "y", "id", ("g",)).collect()}
    assert got["a"]["slope"] == 2.0 and got["a"]["n_pairs"] == 3
    assert "b" not in got


def test_gini_coefficient_known_values(spark):
    from xmlschemavalidator_spark.checks.stats import gini_coefficient

    # perfect equality -> 0; total concentration -> (n-1)/n
    eq = spark.createDataFrame([(i, 10.0) for i in range(5)], "id long, v double")
    [r] = gini_coefficient(eq, "v", "id").collect()
    assert (r["n"], r["gini"]) == (5, 0.0)
    conc = spark.createDataFrame(
        [(0, 100.0)] + [(i, 0.0) for i in range(1, 5)], "id long, v double"
    )
    [c] = gini_coefficient(conc, "v", "id").collect()
    assert c["gini"] == round(4 / 5, 6)
    # textbook: [1,2,3,4] -> G = sum((2i-n-1)x)/(n*sum) = (-3*1-1*2+1*3+3*4)/(4*10)
    tb = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([1, 2, 3, 4])], "id long, v double"
    )
    [t] = gini_coefficient(tb, "v", "id").collect()
    assert t["gini"] == round(10 / 40, 6)


def test_gini_groups_nulls_negatives(spark):
    from xmlschemavalidator_spark.checks.stats import gini_coefficient

    df = spark.createDataFrame(
        [("a", 1, 5.0), ("a", 2, 5.0), ("b", 3, 0.0), ("b", 4, 10.0),
         ("b", 5, None), ("b", 6, -3.0)],
        "g string, id long, v double",
    )
    got = {r["g"]: (r["n"], r["gini"]) for r in
           gini_coefficient(df, "v", "id", ("g",)).collect()}
    assert got["a"] == (2, 0.0)
    assert got["b"] == (2, 0.5)  # [0, 10]: (-1*0 + 1*10)/(2*10)


def test_jackknife_ratio_covers_truth_and_shrinks_with_n(spark):
    from xmlschemavalidator_spark.checks.stats import jackknife_ratio

    # clicks ~ deterministic "30% CTR" pattern over impressions
    rows = [(i, 1.0 if (i * 7) % 10 < 3 else 0.0, 1.0) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, clicks double, imps double")
    [r] = jackknife_ratio(df, "clicks", "imps", id_col="id").collect()
    assert r["n_rows"] == 2000
    assert abs(r["ratio"] - 0.3) < 0.01
    assert 0 <= r["se"] < 0.05
    assert r["ci_lo"] <= r["ratio"] <= r["ci_hi"]
    # a 10x smaller sample has a wider interval
    small = spark.createDataFrame(rows[:200], "id long, clicks double, imps double")
    [s] = jackknife_ratio(small, "clicks", "imps", id_col="id").collect()
    assert (s["ci_hi"] - s["ci_lo"]) > (r["ci_hi"] - r["ci_lo"])


def test_jackknife_ratio_groups_and_validation(spark):
    import pytest as _pt

    from xmlschemavalidator_spark.checks.stats import jackknife_ratio

    rows = [("a", i, float(i % 2), 1.0) for i in range(100)] + [
        ("b", 1000 + i, 1.0, 1.0) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "g string, id long, num double, den double")
    got = {r["g"]: r for r in
           jackknife_ratio(df, "num", "den", id_col="id", group_cols=("g",)).collect()}
    assert abs(got["a"]["ratio"] - 0.5) < 0.02
    assert got["b"]["ratio"] == 1.0 and got["b"]["se"] == 0.0  # constant metric
    with _pt.raises(ValueError):
        jackknife_ratio(df, "num", "den")


def test_eb_shrunken_rates_pulls_small_groups_to_prior(spark):
    from xmlschemavalidator_spark.checks.stats import eb_shrunken_rates

    rows = []
    # 20 medium domains at varied rates around ~0.5 (the prior mass)
    for d in range(20):
        p = 0.3 + 0.02 * d
        rows += [(f"m{d}", i, 1 if (i * 13 % 100) < p * 100 else 0)
                 for i in range(200)]
    # one tiny 2/2 domain and one big high-rate domain
    rows += [("tiny", 900 + i, 1) for i in range(2)]
    rows += [("big", 10_000 + i, 1 if i % 20 else 0) for i in range(2000)]
    df = spark.createDataFrame(rows, "domain string, id long, ok int")
    got = {r["domain"]: r for r in
           eb_shrunken_rates(df, ("domain",), "ok").collect()}
    tiny, big = got["tiny"], got["big"]
    assert tiny["raw_rate"] == 1.0
    # the 2/2 domain is pulled hard toward the prior mean (~0.5)
    assert tiny["shrunk_rate"] < 0.85
    # the 2000-row domain barely moves
    assert abs(big["shrunk_rate"] - big["raw_rate"]) < 0.02
    # shrinkage never reorders a big real difference
    assert big["shrunk_rate"] > got["m0"]["shrunk_rate"]


def test_eb_shrunken_rates_degenerate_prior_falls_back(spark):
    from xmlschemavalidator_spark.checks.stats import eb_shrunken_rates

    # all groups identical rate -> zero variance -> raw passthrough
    rows = [(f"d{d}", i, i % 2) for d in range(3) for i in range(10)]
    df = spark.createDataFrame(rows, "domain string, id long, ok int")
    for r in eb_shrunken_rates(df, ("domain",), "ok").collect():
        assert r["shrunk_rate"] == r["raw_rate"]


def test_simpsons_paradox_detected_and_absent(spark):
    from xmlschemavalidator_spark.checks.stats import simpsons_paradox_check

    # classic construction: within each group y DECREASES with x, but
    # the higher-x group sits at a higher level -> pooled slope is UP
    rows = []
    for i in range(20):
        rows.append(("a", i * 1.0, 10.0 - 0.5 * i))          # x in [0,20)
        rows.append(("b", 100.0 + i, 200.0 - 0.5 * i))       # x in [100,120)
    df = spark.createDataFrame(rows, "g string, x double, y double")
    [r] = simpsons_paradox_check(df, "x", "y", ("g",)).collect()
    assert r["pooled_slope"] > 0
    assert (r["n_groups_pos"], r["n_groups_neg"]) == (0, 2)
    assert r["paradox"] is True

    # aligned trends: no alarm
    ok = spark.createDataFrame(
        [("a", float(i), 2.0 * i) for i in range(10)]
        + [("b", float(i), 2.0 * i + 5) for i in range(10)],
        "g string, x double, y double",
    )
    [s] = simpsons_paradox_check(ok, "x", "y", ("g",)).collect()
    assert s["paradox"] is False and s["n_groups_pos"] == 2


def test_standardized_rates_remove_composition_bias(spark):
    from xmlschemavalidator_spark.checks.stats import standardized_rates

    # both groups have IDENTICAL per-stratum rates (s0: 10%, s1: 50%)
    # but opposite compositions -> raw rates differ, standardized agree
    rows = []
    rows += [("a", "s0", 1 if i < 9 else 0) for i in range(90)]     # 9/90 wait 10%
    rows += [("a", "s1", 1 if i < 5 else 0) for i in range(10)]     # 5/10
    rows += [("b", "s0", 1 if i < 1 else 0) for i in range(10)]     # 1/10
    rows += [("b", "s1", 1 if i < 45 else 0) for i in range(90)]    # 45/90
    df = spark.createDataFrame(rows, "g string, stratum string, ok int")
    got = {r["g"]: r for r in
           standardized_rates(df, ("g",), "stratum", "ok").collect()}
    assert got["a"]["raw_rate"] != got["b"]["raw_rate"]
    assert got["a"]["standardized_rate"] == got["b"]["standardized_rate"]
    assert got["a"]["covered_weight_micro"] == 1_000_000


def test_standardized_rates_uncovered_stratum_renormalizes(spark):
    from xmlschemavalidator_spark.checks.stats import standardized_rates

    rows = [("a", "s0", 1), ("a", "s1", 0), ("b", "s0", 1)]
    df = spark.createDataFrame(rows, "g string, stratum string, ok int")
    got = {r["g"]: r for r in
           standardized_rates(df, ("g",), "stratum", "ok").collect()}
    # b never saw s1: covered weight < 1e6 and its rate uses s0 only
    assert got["b"]["covered_weight_micro"] < 1_000_000
    assert got["b"]["standardized_rate"] == 1.0


def test_smr_rates_against_hand_expectation(spark):
    from xmlschemavalidator_spark.checks.stats import smr_rates

    # global rates: s0 -> 0.2 (2/10), s1 -> 0.5 (5/10)
    # group a: 5 rows in s0 with 3 successes -> expected 1.0, smr 3.0
    rows = (
        [("a", "s0", 1)] * 3 + [("a", "s0", 0)] * 2
        + [("b", "s0", 0)] * 5
        + [("a", "s1", 1)] * 0
        + [("b", "s1", 1)] * 5 + [("b", "s1", 0)] * 5
    )
    # fix global s0: a has 3/5, b has 0/5 -> global 3/10 = 0.3
    df = spark.createDataFrame(rows, "g string, stratum string, ok int")
    got = {r["g"]: r for r in smr_rates(df, ("g",), "stratum", "ok").collect()}
    a = got["a"]
    assert (a["n"], a["observed"]) == (5, 3)
    assert a["expected"] == round(5 * 0.3, 6)
    assert a["smr"] == round(3 / 1.5, 6)
    b = got["b"]
    assert b["expected"] == round(5 * 0.3 + 10 * 0.5, 6)
    assert b["smr"] == round(5 / 6.5, 6)


def test_winsorized_mean_clamps_not_drops(spark):
    from xmlschemavalidator_spark.checks.stats import trimmed_mean, winsorized_mean

    # 20 values 1..19 plus one wild 1000; 5% winsorization clamps ONE
    # row each side: 1000 -> 19, and the min 1 -> 2
    rows = [(i, float(i)) for i in range(1, 20)] + [(99, 1000.0)]
    df = spark.createDataFrame(rows, "id long, v double")
    [r] = winsorized_mean(df, "v", "id", winsor_pct=5).collect()
    vals = sorted([float(i) for i in range(1, 20)] + [1000.0])
    clamped = [vals[1]] + vals[1:-1] + [vals[-2]]
    assert (r["n"], r["n_winsorized_each_side"]) == (20, 1)
    assert r["winsorized_mean"] == round(sum(clamped) / 20, 6)
    # keeps n constant where trimming drops rows
    [t] = trimmed_mean(df, "v", "id", trim_pct=5).collect()
    assert t["n"] == 20 and r["n"] == 20
    # zero pct: plain mean
    [z] = winsorized_mean(df, "v", "id", winsor_pct=0).collect()
    assert z["winsorized_mean"] == round((sum(range(1, 20)) + 1000) / 20, 6)


def test_spearman_monotone_and_robust(spark):
    from xmlschemavalidator_spark.checks.stats import (
        pearson_correlation,
        spearman_correlation,
    )

    # perfectly monotone but nonlinear: rho = 1 while Pearson < 1
    rows = [(float(i), float(i ** 3)) for i in range(1, 20)]
    df = spark.createDataFrame(rows, "x double, y double")
    [r] = spearman_correlation(df, "x", "y").collect()
    assert r["rho"] == 1.0
    [p] = pearson_correlation(df, "x", "y").collect()
    assert p["corr"] < 1.0
    # reversed: -1 ; with ties handled by average ranks
    rev = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 4.0), (3.0, 4.0), (4.0, 2.0), (5.0, 1.0)],
        "x double, y double",
    )
    [v] = spearman_correlation(rev, "x", "y").collect()
    import math as _m

    # scipy-free replay: avg ranks y = [5, 3.5, 3.5, 2, 1]
    xr = [1, 2, 3, 4, 5]
    yr = [5, 3.5, 3.5, 2, 1]
    n = 5
    num = n * sum(a * b for a, b in zip(xr, yr)) - sum(xr) * sum(yr)
    va = n * sum(a * a for a in xr) - sum(xr) ** 2
    vb = n * sum(b * b for b in yr) - sum(yr) ** 2
    assert v["rho"] == round(num / _m.sqrt(va * vb), 6)
    # constant column: undefined
    c = spark.createDataFrame([(1.0, 2.0), (2.0, 2.0)], "x double, y double")
    [u] = spearman_correlation(c, "x", "y").collect()
    assert u["rho"] is None


def test_cohens_d_and_anova_f_hand_computed(spark):
    import math as _m

    from xmlschemavalidator_spark.checks.stats import anova_f, cohens_d

    a = [2.0, 4.0, 6.0]   # mean 4, var 4
    b = [1.0, 2.0, 3.0]   # mean 2, var 1
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    [r] = cohens_d(df, "v", "g", "a", "b").collect()
    pooled = ((2 * 4) + (2 * 1)) / 4
    assert (r["mean_a"], r["mean_b"]) == (4.0, 2.0)
    assert r["d"] == round(2.0 / _m.sqrt(pooled), 6)

    [f] = anova_f(df, "v", "g").collect()
    gm = 3.0
    ssb = 3 * (4 - gm) ** 2 + 3 * (2 - gm) ** 2
    ssw = sum((v - 4) ** 2 for v in a) + sum((v - 2) ** 2 for v in b)
    want = (ssb / 1) / (ssw / 4)
    assert abs(f["f"] - want) < 1e-6
    assert (f["df_between"], f["df_within"]) == (1, 4)
    # constant values: zero within variance -> NULL
    c = spark.createDataFrame([("a", 1.0), ("a", 1.0), ("b", 1.0), ("b", 1.0)],
                              "g string, v double")
    [z] = anova_f(c, "v", "g").collect()
    assert z["f"] is None


def test_jsd_drift_hand_computed_and_bounds(spark):
    import math

    from xmlschemavalidator_spark.checks.drift import jsd_drift

    cur = spark.createDataFrame([("a", 3), ("b", 1)], "category string, n long")
    base = spark.createDataFrame([("a", 1), ("b", 3)], "category string, n long")
    [r] = jsd_drift(cur, base).collect()
    expect = 0.75 * math.log(1.5) + 0.25 * math.log(0.5)
    assert abs(r["jsd"] - expect) < 2e-6
    assert r["n_categories"] == 2 and r["n_new_categories"] == 0

    # disjoint supports: JSD hits its ln2 bound exactly, norm = 1.0;
    # zero cells need no smoothing (the PSI epsilon problem)
    cur2 = spark.createDataFrame([("a", 5)], "category string, n long")
    base2 = spark.createDataFrame([("b", 7)], "category string, n long")
    [d] = jsd_drift(cur2, base2).collect()
    assert d["jsd"] == round(math.log(2), 6) and d["jsd_norm"] == 1.0
    assert d["n_new_categories"] == 1 and d["n_gone_categories"] == 1

    # identical distributions: exactly 0
    [z] = jsd_drift(cur, cur).collect()
    assert z["jsd"] == 0.0 and z["jsd_norm"] == 0.0

    # empty baseline: NULL verdict, never a div/0
    empty = spark.createDataFrame([], "category string, n long")
    [e] = jsd_drift(cur, empty).collect()
    assert e["jsd"] is None and e["jsd_norm"] is None


def test_kendall_tau_hand_computed(spark):
    from xmlschemavalidator_spark.checks.stats import kendall_tau

    # perfect concordance
    up = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 2.0), (3.0, 3.0), (4.0, 4.0)], "x double, y double"
    )
    [r] = kendall_tau(up, "x", "y").collect()
    assert r["tau_b"] == 1.0 and r["concordant"] == 6 and r["discordant"] == 0

    # one swap: C=2, D=1, no ties -> tau = 1/3
    mix = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 1.0), (3.0, 3.0)], "x double, y double"
    )
    [m] = kendall_tau(mix, "x", "y").collect()
    assert (m["concordant"], m["discordant"]) == (2, 1)
    assert m["tau_b"] == round(1 / 3, 6)

    # tie correction: 2x2 balanced grid is exactly independent -> 0
    grid = spark.createDataFrame(
        [(1.0, 1.0), (1.0, 2.0), (2.0, 1.0), (2.0, 2.0)], "x double, y double"
    )
    [g] = kendall_tau(grid, "x", "y").collect()
    assert g["tau_b"] == 0.0 and g["n_cells"] == 4

    # duplicated point still reaches tau=1 through the tie terms
    dup = spark.createDataFrame(
        [(1.0, 1.0), (1.0, 1.0), (2.0, 2.0)], "x double, y double"
    )
    [d] = kendall_tau(dup, "x", "y").collect()
    assert d["tau_b"] == 1.0 and d["concordant"] == 2

    # all-ties margin: NULL verdict, never a div/0
    flat = spark.createDataFrame([(1.0, 1.0), (1.0, 2.0)], "x double, y double")
    [f] = kendall_tau(flat, "x", "y").collect()
    assert f["tau_b"] is None


def test_self_join_size_exact(spark):
    from xmlschemavalidator_spark.checks.ams import self_join_size

    df = spark.createDataFrame(
        [("a",), ("a",), ("a",), ("b",), ("b",), ("c",), (None,)], "v string"
    )
    [r] = self_join_size(df, "v").collect()
    assert (r["n"], r["n_distinct"], r["f2"]) == (6, 3, 14)
    assert r["skew_ratio"] == (14 * 1_000_000) // 36


def test_ams_sketch_estimate_merge_and_join(spark):
    from xmlschemavalidator_spark.checks.ams import (
        ams_build,
        ams_f2_estimate,
        ams_join_size_estimate,
        ams_merge,
        self_join_size,
    )

    # zipf-ish corpus: value k repeated (40-k) times, k=0..39
    data = [(f"v{k}",) for k in range(40) for _ in range(40 - k)]
    df = spark.createDataFrame(data, "v string")
    [exact] = self_join_size(df, "v").collect()
    sk = ams_build(df, "v", rows=9, counters=64)
    [est] = ams_f2_estimate(sk).collect()
    ratio = est["f2_estimate"] / exact["f2"]
    assert 0.5 < ratio < 2.0, ratio  # deterministic given the portable hash

    # mergeability: sketch(A) + sketch(B) == sketch(A ∪ B), cell-exact
    a = df.where(F.length("v") == 2)   # v0..v9
    b = df.where(F.length("v") == 3)
    merged = sorted(map(tuple, ams_merge(
        ams_build(a, "v", rows=3, counters=16),
        ams_build(b, "v", rows=3, counters=16)).collect()))
    whole = sorted(map(tuple, ams_build(df, "v", rows=3, counters=16).collect()))
    assert merged == whole

    # join-size estimate: sketch self-dot equals the F2 estimate exactly
    [js] = ams_join_size_estimate(sk, sk).collect()
    assert js["join_size_estimate"] == est["f2_estimate"]

    import pytest as _pt
    with _pt.raises(ValueError):
        ams_build(df, "v", rows=4)  # even rows: no rank-exact median


def test_ams_build_duckdb_replay_parity(spark):
    import duckdb

    from xmlschemavalidator_spark.checks.ams import ams_build, ams_build_sql

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = sorted(map(tuple, ams_build(df, "lang", rows=3, counters=8).collect()))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    oracle = sorted(map(tuple,
        con.execute(ams_build_sql("documents", "lang", rows=3, counters=8)).fetchall()))
    assert got == oracle and len(got) > 0


def test_inclusion_check_contained_and_missing(spark):
    from xmlschemavalidator_spark.checks.fd import inclusion_check

    a = spark.createDataFrame([(1,), (2,), (2,), (3,), (None,)], "k long")
    b = spark.createDataFrame([(1,), (2,), (3,), (4,), (5,)], "k long")
    [r] = inclusion_check(a, "k", b, "k").collect()
    assert (r["n_distinct_a"], r["n_distinct_b"], r["n_missing"]) == (3, 5, 0)
    assert r["contained"] is True and r["containment_micro"] == 1_000_000

    # reverse direction: 4,5 missing from a -> 3/5 contained
    [v] = inclusion_check(b, "k", a, "k").collect()
    assert (v["n_missing"], v["contained"]) == (2, False)
    assert v["containment_micro"] == (3 * 1_000_000) // 5

    # empty A: NULL share, not contained (vacuous truth rejected)
    empty = spark.createDataFrame([], "k long")
    [e] = inclusion_check(empty, "k", b, "k").collect()
    assert e["containment_micro"] is None and e["contained"] is False


def test_inclusion_discovery_ordered_pairs(spark):
    import pytest as _pt

    from xmlschemavalidator_spark.checks.fd import inclusion_discovery

    # x ⊂ y, y ⊄ x, z disjoint from both
    df = spark.createDataFrame(
        [(1, 1, 9), (2, 2, 8), (None, 3, 7)], "x long, y long, z long"
    )
    out = {(r["col_a"], r["col_b"]): r
           for r in inclusion_discovery(df, ["x", "y", "z"]).collect()}
    assert len(out) == 6
    assert out[("x", "y")]["contained"] is True
    assert out[("y", "x")]["contained"] is False
    assert out[("y", "x")]["containment_micro"] == (2 * 1_000_000) // 3
    assert out[("z", "x")]["n_shared"] == 0 and out[("z", "x")]["contained"] is False
    with _pt.raises(ValueError):
        inclusion_discovery(df, ["x"])


def test_fd_condition_scan_mixed_verdict(spark):
    from xmlschemavalidator_spark.checks.fd import fd_condition_scan

    rows = [
        # scope 'a': key→val holds; scope 'b': key 1 maps to two values
        ("a", 1, 10), ("a", 1, 10), ("a", 2, 20),
        ("b", 1, 10), ("b", 1, 11), ("b", 2, 20),
    ]
    df = spark.createDataFrame(rows, "cond string, k long, v long")
    out = {r["cond"]: r for r in fd_condition_scan(df, "cond", ["k"], "v").collect()}
    assert out["a"]["holds"] is True
    assert out["a"]["n_lhs_groups"] == 2 and out["a"]["n_rows"] == 3
    assert out["b"]["holds"] is False
    assert out["b"]["n_violating_groups"] == 1
    assert out["b"]["max_rhs_values"] == 2


def test_cfd_violation_rows_scope_only(spark):
    from xmlschemavalidator_spark.checks.fd import cfd_violation_rows

    rows = [
        (1, "a", 1, 10), (2, "a", 1, 99),   # violates, but OUTSIDE scope
        (3, "b", 1, 10), (4, "b", 1, 11),   # violates inside scope
        (5, "b", 2, 20),
    ]
    df = spark.createDataFrame(rows, "id long, cond string, k long, v long")
    out = cfd_violation_rows(df, "cond", "b", ["k"], "v", "id").collect()
    assert sorted(r["id"] for r in out) == [3, 4]
    assert all(r["rule_id"] == "cfd_cond_k__v" for r in out)
    assert {r["observed_value"] for r in out} == {"10", "11"}


def test_json_path_profile_classes(spark):
    from xmlschemavalidator_spark.checks.schema import json_path_profile

    rows = [
        ('{"k": 69, "m": {"d": 3}}',),
        ('{"k": "s", "m": null}',),
        ('{"k": [1], "m": {"d": "x"}}',),
        ("not json",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "props string")
    out = {
        (r["path"], r["type_class"]): r["n"]
        for r in json_path_profile(df, "props", ["$.k", "$.m", "$.m.d"]).collect()
    }
    assert out[("$.k", "number")] == 1
    assert out[("$.k", "string")] == 1
    assert out[("$.k", "array")] == 1
    assert out[("$.k", "invalid")] == 1
    assert out[("$.k", "no_value")] == 1
    assert out[("$.m", "object")] == 2
    assert out[("$.m", "null")] == 1
    assert out[("$.m.d", "number")] == 1
    assert out[("$.m.d", "string")] == 1
    assert out[("$.m.d", "missing")] == 1


def test_json_type_check_violations(spark):
    from xmlschemavalidator_spark.checks.schema import json_type_check

    rows = [(1, '{"k": 1}'), (2, '{"k": "s"}'), (3, "{}"), (4, None)]
    df = spark.createDataFrame(rows, "id long, props string")
    out = json_type_check(
        df, "props", "$.k", ("number", "missing"), "id"
    ).collect()
    assert sorted((r["id"], r["observed_value"]) for r in out) == [
        (2, "string"), (4, "no_value"),
    ]
    assert all(r["rule_id"] == "json_$.k_type" for r in out)


def test_weighted_quantile_hand_computed(spark):
    from xmlschemavalidator_spark.checks.stats import weighted_quantile

    # values 1..4 with weights 1,1,6,2 (W=10): p25 crosses at value 3
    # (cum 2 < 2.5 <= 8), median at 3, p75 at 3 (cum 8 >= 7.5), p90 at 4
    rows = [(1, 1, 1.0), (2, 2, 1.0), (3, 3, 6.0), (4, 4, 2.0)]
    df = spark.createDataFrame(rows, "id long, v long, w double")
    out = {
        r["q_pct"]: r
        for r in weighted_quantile(df, "v", "w", "id", (25, 50, 75, 90)).collect()
    }
    assert out[25]["value"] == 3
    assert out[50]["value"] == 3
    assert out[75]["value"] == 3
    assert out[90]["value"] == 4
    assert out[50]["total_weight_q"] == 10_000_000
    # unweighted degenerate: equal weights reproduce the plain quantile
    rows2 = [(i, i, 1.0) for i in range(1, 11)]
    df2 = spark.createDataFrame(rows2, "id long, v long, w double")
    out2 = {
        r["q_pct"]: r["value"]
        for r in weighted_quantile(df2, "v", "w", "id", (50,)).collect()
    }
    assert out2[50] == 5  # lower median of 1..10


def test_welch_t_hand_computed(spark):
    import math as _m

    from xmlschemavalidator_spark.checks.stats import welch_t

    a = [2.0, 4.0, 6.0]   # mean 4, var 4
    b = [1.0, 2.0, 3.0]   # mean 2, var 1
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    [r] = welch_t(df, "v", "g", "a", "b").collect()
    sea, seb = 4.0 / 3, 1.0 / 3
    se2 = sea + seb
    want_t = 2.0 / _m.sqrt(se2)
    want_df = se2 * se2 / (sea * sea / 2 + seb * seb / 2)
    assert (r["n_a"], r["n_b"]) == (3, 3)
    assert (r["mean_a"], r["mean_b"], r["mean_diff"]) == (4.0, 2.0, 2.0)
    assert abs(r["t"] - want_t) < 1e-6
    assert abs(r["df_welch"] - want_df) < 1e-6
    # |t| = 1.549 < 1.960 -> not significant at the normal 5% level
    assert r["significant"] is False

    # a clearly-separated pair IS significant
    big = [("a", 10.0 + (i % 3) * 0.1) for i in range(30)] + [
        ("b", 1.0 + (i % 3) * 0.1) for i in range(30)
    ]
    [s] = welch_t(
        spark.createDataFrame(big, "g string, v double"), "v", "g", "a", "b"
    ).collect()
    assert s["significant"] is True and s["t"] > 0

    # degenerate: both groups constant -> zero variance -> NULL t
    c = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0)],
        "g string, v double",
    )
    [z] = welch_t(c, "v", "g", "a", "b").collect()
    assert z["t"] is None and z["df_welch"] is None
    assert z["significant"] is False
    # single-row group -> NULL (df undefined)
    d = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("b", 3.0)], "g string, v double"
    )
    [w] = welch_t(d, "v", "g", "a", "b").collect()
    assert w["t"] is None


def test_semantic_type_classifier_every_class(spark):
    from xmlschemavalidator_spark.checks.semantic import (
        dominant_semantic_types,
        semantic_type_census,
        semantic_type_violations,
    )

    rows = [
        ("1", None),                                   # null
        ("2", ""),                                     # empty
        ("3", "  \t"),                                 # empty (ws only)
        ("4", "true"), ("5", "FALSE"),                 # bool
        ("6", "42"), ("7", "-17"), ("8", "+005"),      # integer
        ("9", "3.14"), ("10", "-.5"), ("11", "1e5"),   # decimal
        ("12", "6F9619FF-8B86-D011-B42D-00C04FC964FF"),  # uuid (upper)
        ("13", "192.168.0.1"), ("14", "255.255.255.255"),  # ipv4
        ("15", "256.1.1.1"),                           # NOT ipv4 -> text
        ("16", "alice.smith+tag@sub.example.co"),      # email
        ("17", "https://example.com/a?b=1"),           # url
        ("18", "2024-02-29T23:59:59.123Z"),            # iso_timestamp
        ("19", "2024-12-31"),                          # iso_date
        ("20", "2024-13-01"),                          # bad month -> text
        ("21", "d41d8cd98f00b204e9800998ecf8427e"),    # hex_hash (md5)
        ("22", "hello world"),                         # text
    ]
    df = spark.createDataFrame(rows, "id string, v string")
    census = {
        (r["sem_type"]): r["n"]
        for r in semantic_type_census(df, ["v"]).collect()
    }
    assert census == {
        "null": 1, "empty": 2, "bool": 2, "integer": 3, "decimal": 3,
        "uuid": 1, "ipv4": 2, "email": 1, "url": 1, "iso_timestamp": 1,
        "iso_date": 1, "hex_hash": 1, "text": 3,
    }
    total = sum(census.values())
    [share] = [
        r["share_micro"]
        for r in semantic_type_census(df, ["v"]).collect()
        if r["sem_type"] == "integer"
    ]
    assert share == 3 * 1_000_000 // total

    # dominance excludes null/empty; integer/decimal/text tie at 3 ->
    # tie broken by class name ascending: decimal
    [d] = dominant_semantic_types(df, ["v"], min_share_micro=500_000).collect()
    assert d["dominant_type"] == "decimal" and d["n_typed"] == total - 3
    assert d["conforming"] is False

    # conformance: declared integer -> everything non-integer violates,
    # including NULL
    viol = semantic_type_violations(df, "v", "integer", "id").collect()
    ids = sorted(int(r["id"]) for r in viol)
    assert ids == [i for i in range(1, 23) if i not in (6, 7, 8)]
    assert all(r["rule_id"] == "semantic_v_integer" for r in viol)

    # a declared hex_hash CONFORMS even when the census would read an
    # all-digit hash as integer (first-match-wins vs declared-type)
    h = spark.createDataFrame(
        [("1", "1" * 32)], "id string, v string"
    )
    assert semantic_type_violations(h, "v", "hex_hash", "id").count() == 0

    import pytest as _pt

    with _pt.raises(ValueError):
        semantic_type_violations(df, "v", "nonsense", "id")


def test_species_richness_hand_computed(spark):
    from xmlschemavalidator_spark.checks.stats import species_richness

    # a,b singletons; c twice; d three times -> n=7 D=4 f1=2 f2=1
    rows = [("a",), ("b",), ("c",), ("c",), ("d",), ("d",), ("d",)]
    df = spark.createDataFrame(rows, "k string")
    [r] = species_richness(df, "k").collect()
    assert (r["n_obs"], r["distinct_seen"], r["f1"], r["f2"]) == (7, 4, 2, 1)
    assert r["coverage"] == round(1 - 2 / 7, 6)
    # chao1 = 4 + 2*1/(2*(1+1)) = 4.5
    assert r["chao1"] == 4.5

    # all-singletons: the classic f1^2/(2 f2) form would div/0 here;
    # bias-corrected stays defined: 2 + 2*1/2 = 3, coverage 0
    df2 = spark.createDataFrame([("x",), ("y",)], "k string")
    [r2] = species_richness(df2, "k").collect()
    assert r2["chao1"] == 3.0 and r2["coverage"] == 0.0

    # saturated sample: no singletons -> coverage 1, chao1 = distinct_seen
    df3 = spark.createDataFrame([("x",)] * 5 + [("y",)] * 4, "k string")
    [r3] = species_richness(df3, "k").collect()
    assert r3["coverage"] == 1.0 and r3["chao1"] == 2.0 == r3["distinct_seen"]

    # grouped: each group's counts independent
    gdf = spark.createDataFrame(
        [("en", "a"), ("en", "a"), ("en", "b"), ("de", "z")], "g string, k string"
    )
    got = {r["g"]: r for r in species_richness(gdf, "k", group_cols=("g",)).collect()}
    assert got["en"]["f1"] == 1 and got["en"]["f2"] == 1
    assert got["de"]["n_obs"] == 1 and got["de"]["coverage"] == 0.0


def test_species_richness_duckdb_parity(spark):
    import duckdb

    from xmlschemavalidator_spark.checks.stats import (
        species_richness,
        species_richness_oracle_sql,
    )

    rows = [(f"g{i % 2}", f"k{(i * i) % 17}") for i in range(60)]
    df = spark.createDataFrame(rows, "g string, k string")
    got = sorted(
        (r["g"], r["n_obs"], r["distinct_seen"], r["f1"], r["f2"], r["coverage"], r["chao1"])
        for r in species_richness(df, "k", group_cols=("g",)).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE obs (g VARCHAR, k VARCHAR)")
    con.executemany("INSERT INTO obs VALUES (?, ?)", rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            species_richness_oracle_sql("SELECT g, k FROM obs", "k", ("g",))
        ).fetchall()
    )
    assert got == want


def test_cramers_v_hand_computed(spark):
    from xmlschemavalidator_spark.checks.stats import cramers_v

    # perfect association: y == x -> V = 1
    rows = [("a", "p")] * 3 + [("b", "q")] * 5 + [("c", "r")] * 2
    df = spark.createDataFrame(rows, "x string, y string")
    [r] = cramers_v(df, "x", "y").collect()
    assert (r["n_rows"], r["n_x"], r["n_y"], r["dof"]) == (10, 3, 3, 4)
    assert r["v"] == 1.0 and r["chi2"] == 20.0  # chi2 = n*min(r,c)-1) = 10*2

    # independence: balanced 2x2 -> chi2 = 0, V = 0
    rows2 = [("a", "p"), ("a", "q"), ("b", "p"), ("b", "q")] * 5
    [r2] = cramers_v(spark.createDataFrame(rows2, "x string, y string"), "x", "y").collect()
    assert r2["chi2"] == 0.0 and r2["v"] == 0.0

    # 2x2 hand chi2: cells a/p=10 a/q=0 b/p=0 b/q=10 -> chi2 = n = 20, V=1
    rows3 = [("a", "p")] * 10 + [("b", "q")] * 10
    [r3] = cramers_v(spark.createDataFrame(rows3, "x string, y string"), "x", "y").collect()
    assert r3["chi2"] == 20.0 and r3["v"] == 1.0

    # single-category side: dof 0 -> NULL v, chi2 still defined (0)
    rows4 = [("a", "p"), ("a", "q"), ("a", "p")]
    [r4] = cramers_v(spark.createDataFrame(rows4, "x string, y string"), "x", "y").collect()
    assert r4["dof"] == 0 and r4["v"] is None

    # NULL is a category: two x-classes via null
    rows5 = [("a", "p"), (None, "q"), (None, "q"), ("a", "p")]
    [r5] = cramers_v(spark.createDataFrame(rows5, "x string, y string"), "x", "y").collect()
    assert r5["n_x"] == 2 and r5["v"] == 1.0


def test_cramers_v_duckdb_parity(spark):
    import duckdb

    from xmlschemavalidator_spark.checks.stats import cramers_v, cramers_v_oracle_sql

    rows = [(f"x{i % 4}", f"y{(i * 7) % 3}" if i % 11 else None) for i in range(200)]
    df = spark.createDataFrame(rows, "x string, y string")
    [got] = cramers_v(df, "x", "y").collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE obs2 (x VARCHAR, y VARCHAR)")
    con.executemany("INSERT INTO obs2 VALUES (?, ?)", rows)
    [want] = con.execute(
        cramers_v_oracle_sql("SELECT x, y FROM obs2", "x", "y")
    ).fetchall()
    assert tuple(got) == tuple(want)


def test_mantel_haenszel_hand_computed(spark):
    import math

    from xmlschemavalidator_spark.checks.stats import mantel_haenszel

    # two strata, consistent OR ~ 3 within each
    def cells(st, a, b, c, d):
        return (
            [(st, True, True)] * a + [(st, True, False)] * b
            + [(st, False, True)] * c + [(st, False, False)] * d
        )

    rows = cells("s1", 12, 8, 4, 8) + cells("s2", 6, 14, 3, 17)
    df = spark.createDataFrame(rows, "st string, e boolean, o boolean")
    [r] = mantel_haenszel(df, "e", "o", "st").collect()
    assert (r["n"], r["n_strata"], r["n_informative_strata"]) == (72, 2, 2)
    # python replay
    num = den = ome = var = 0.0
    for (a, b, c, d) in ((12, 8, 4, 8), (6, 14, 3, 17)):
        n = a + b + c + d
        num += round(a * d / n, 12)
        den += round(b * c / n, 12)
        ome += round(a - (a + b) * (a + c) / n, 12)
        var += round((a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1)), 12)
    assert r["or_mh"] == round(num / den, 6)
    assert r["chi2_cmh"] == round(ome * ome / var, 6)
    assert r["or_mh"] > 2.0

    # the Simpson's set-up: strata with NO within-stratum effect but
    # shifted composition -> MH reads OR ~ 1 where the pooled table lies
    null_rows = cells("heavy", 45, 45, 5, 5) + cells("light", 5, 5, 45, 45)
    [rn] = mantel_haenszel(
        spark.createDataFrame(null_rows, "st string, e boolean, o boolean"),
        "e", "o", "st",
    ).collect()
    assert rn["or_mh"] == 1.0 and rn["significant"] is False

    # degenerate strata don't vote: all-exposed stratum contributes 0
    deg = cells("ok", 10, 5, 5, 10) + [("allexp", True, True)] * 8
    [rd] = mantel_haenszel(
        spark.createDataFrame(deg, "st string, e boolean, o boolean"),
        "e", "o", "st",
    ).collect()
    assert rd["n_strata"] == 2 and rd["n_informative_strata"] == 1

    # no discordant cells anywhere -> NULL OR
    conc = [("s", True, True)] * 3 + [("s", False, False)] * 3
    [rc] = mantel_haenszel(
        spark.createDataFrame(conc, "st string, e boolean, o boolean"),
        "e", "o", "st",
    ).collect()
    assert rc["or_mh"] is None


def test_mantel_haenszel_duckdb_parity(spark):
    import duckdb

    from xmlschemavalidator_spark.checks.stats import (
        mantel_haenszel,
        mantel_haenszel_oracle_sql,
    )

    rows = [
        (f"s{i % 5}", (i * 3) % 7 < 3, (i * i) % 5 < 2) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "st string, e boolean, o boolean")
    [got] = mantel_haenszel(df, "e", "o", "st").collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE strat (st VARCHAR, e BOOLEAN, o BOOLEAN)")
    con.executemany("INSERT INTO strat VALUES (?, ?, ?)", rows)
    [want] = con.execute(
        mantel_haenszel_oracle_sql("SELECT st, e, o FROM strat")
    ).fetchall()
    assert tuple(got) == tuple(want)


def test_jonckheere_terpstra_replay(spark):
    import math
    from collections import Counter

    from xmlschemavalidator_spark.checks.stats import jonckheere_terpstra

    # rising trend across 3 ordered groups, with ties within and across
    data = (
        [(0, 1.0), (0, 2.0), (0, 2.0), (0, 3.0)]
        + [(1, 2.0), (1, 3.0), (1, 4.0), (1, 4.0)]
        + [(2, 4.0), (2, 5.0), (2, 5.0), (2, 6.0)]
    )
    df = spark.createDataFrame(data, "s long, v double")
    [r] = jonckheere_terpstra(df, "s", "v").collect()

    # naive O(n^2) replay on the quantized values
    qd = [(g, math.floor(v * 1e6)) for g, v in data]
    j2 = 0
    for ga, xa in qd:
        for gb, xb in qd:
            if ga < gb:
                if xa < xb:
                    j2 += 2
                elif xa == xb:
                    j2 += 1
    assert r["j_doubled"] == j2
    n = len(qd)
    sizes = Counter(g for g, _ in qd)
    ties = Counter(x for _, x in qd)
    sn2 = sum(m * m for m in sizes.values())
    t1g = sum(m * (m - 1) * (2 * m + 5) for m in sizes.values())
    t1t = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
    t2g = sum(m * (m - 1) * (m - 2) for m in sizes.values())
    t2t = sum(t * (t - 1) * (t - 2) for t in ties.values())
    t3g = sum(m * (m - 1) for m in sizes.values())
    t3t = sum(t * (t - 1) for t in ties.values())
    var = (
        (n * (n - 1) * (2 * n + 5) - t1g - t1t) / 72.0
        + t2g * t2t / (36.0 * n * (n - 1) * (n - 2))
        + t3g * t3t / (8.0 * n * (n - 1))
    )
    ej2 = (n * n - sn2) / 2.0
    z = (j2 - ej2) / 2.0 / math.sqrt(var)
    assert r["z"] == round(z, 6)
    assert r["z"] > 0 and r["significant"] is True

    # flat groups: J ~ E, not significant
    flat = [(g, float(i % 4)) for g in (0, 1, 2) for i in range(12)]
    [rf] = jonckheere_terpstra(
        spark.createDataFrame(flat, "s long, v double"), "s", "v"
    ).collect()
    assert rf["significant"] is False and abs(rf["z"]) < 1.0

    # decreasing trend mirrors the sign
    dec = [(2 - g, v) for g, v in data]
    [rd] = jonckheere_terpstra(
        spark.createDataFrame(dec, "s long, v double"), "s", "v"
    ).collect()
    assert rd["z"] == -r["z"]

    # single group: zero variance -> NULL
    one = [(1, float(i)) for i in range(10)]
    [ro] = jonckheere_terpstra(
        spark.createDataFrame(one, "s long, v double"), "s", "v"
    ).collect()
    assert ro["z"] is None and ro["significant"] is False


def test_woolf_homogeneity_replay(spark):
    import math

    from xmlschemavalidator_spark.checks.stats import woolf_homogeneity

    def cells(st, a, b, c, d):
        return (
            [(st, True, True)] * a + [(st, True, False)] * b
            + [(st, False, True)] * c + [(st, False, False)] * d
        )

    # homogeneous ORs (~3 in both strata) -> low Q, not heterogeneous
    hom = cells("s1", 12, 8, 4, 8) + cells("s2", 6, 14, 3, 17)
    [rh] = woolf_homogeneity(
        spark.createDataFrame(hom, "st string, e boolean, o boolean"),
        "e", "o", "st",
    ).collect()
    assert rh["heterogeneous"] is False and rh["dof"] == 1

    # effect modification: OR >> 1 in s1, << 1 in s2 -> heterogeneous
    het = cells("s1", 30, 5, 5, 30) + cells("s2", 5, 30, 30, 5)
    [rx] = woolf_homogeneity(
        spark.createDataFrame(het, "st string, e boolean, o boolean"),
        "e", "o", "st",
    ).collect()
    assert rx["heterogeneous"] is True and rx["p"] < 0.001

    # python replay of Q on the homogeneous case
    W = WL = WLL = 0.0
    for (a, b, c, d) in ((12, 8, 4, 8), (6, 14, 3, 17)):
        ah, bh, ch, dh = a + 0.5, b + 0.5, c + 0.5, d + 0.5
        w = 1.0 / (1 / ah + 1 / bh + 1 / ch + 1 / dh)
        lor = math.log(ah * dh / (bh * ch))
        W += round(w, 12)
        WL += round(w * lor, 12)
        WLL += round(w * lor * lor, 12)
    q = max(WLL - WL * WL / W, 0.0)
    assert rh["q"] == round(q, 6)

    # single stratum: nothing to compare -> NULL Q
    [r1] = woolf_homogeneity(
        spark.createDataFrame(cells("only", 5, 5, 5, 5),
                              "st string, e boolean, o boolean"),
        "e", "o", "st",
    ).collect()
    assert r1["q"] is None and r1["heterogeneous"] is False


def test_woolf_duckdb_parity(spark):
    import duckdb

    from xmlschemavalidator_spark.checks.stats import (
        woolf_homogeneity,
        woolf_homogeneity_oracle_sql,
    )

    rows = [
        (f"s{i % 4}", (i * 3) % 7 < 3, (i * i) % 5 < 2) for i in range(320)
    ]
    df = spark.createDataFrame(rows, "st string, e boolean, o boolean")
    [got] = woolf_homogeneity(df, "e", "o", "st").collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE wf (st VARCHAR, e BOOLEAN, o BOOLEAN)")
    con.executemany("INSERT INTO wf VALUES (?, ?, ?)", rows)
    [want] = con.execute(
        woolf_homogeneity_oracle_sql("SELECT st, e, o FROM wf")
    ).fetchall()
    assert tuple(got) == tuple(want)


def test_kendalls_w_replay(spark):
    from xmlschemavalidator_spark.checks.stats import kendalls_w

    # three scorers, identical ordering of 5 items -> W = 1
    items = list(range(5))
    rows = []
    for sc in ("a", "b", "c"):
        for i in items:
            rows.append((i, sc, float(i * 10)))
    df = spark.createDataFrame(rows, "it long, sc string, v double")
    [r] = kendalls_w(df, "it", "sc", "v").collect()
    assert (r["n_items"], r["n_scorers"]) == (5, 3)
    assert r["w"] == 1.0 and r["significant"] is True

    # two perfectly opposed scorers -> W near 0, not significant
    rows2 = [(i, "a", float(i)) for i in items] + [
        (i, "b", float(-i)) for i in items
    ]
    [r2] = kendalls_w(
        spark.createDataFrame(rows2, "it long, sc string, v double"),
        "it", "sc", "v",
    ).collect()
    assert r2["w"] < 0.05 and r2["significant"] is False

    # python replay with ties: scorer b ties items 0,1
    rows3 = [(i, "a", float(i)) for i in items] + [
        (i, "b", float(max(i, 1))) for i in items
    ]
    [r3] = kendalls_w(
        spark.createDataFrame(rows3, "it long, sc string, v double"),
        "it", "sc", "v",
    ).collect()
    # doubled average ranks: a: 2,4,6,8,10 ; b: items 0,1 tie at rank
    # (1+2)/2 -> doubled 3, then 6,8,10
    dr = {0: 2 + 3, 1: 4 + 3, 2: 6 + 6, 3: 8 + 8, 4: 10 + 10}
    sr2 = sum(x * x for x in dr.values())
    m, n = 2, 5
    T = (2 ** 3 - 2)  # one tie block of 2 in scorer b
    num = 3 * sr2 - 3 * m * m * n * (n + 1) ** 2
    den = m * m * n * (n * n - 1) - m * T
    assert r3["w"] == round(num / den, 6)

    # incomplete design: an item missing one scorer is dropped
    rows4 = rows + [(99, "a", 5.0)]
    [r4] = kendalls_w(
        spark.createDataFrame(rows4, "it long, sc string, v double"),
        "it", "sc", "v",
    ).collect()
    assert r4["n_items"] == 5

    # all scorers constant: denominator 0 -> NULL
    flat = [(i, sc, 1.0) for i in items for sc in ("a", "b")]
    [rf] = kendalls_w(
        spark.createDataFrame(flat, "it long, sc string, v double"),
        "it", "sc", "v",
    ).collect()
    assert rf["w"] is None and rf["significant"] is False


# ---------------------------------------------------------------------------
# mann_kendall
# ---------------------------------------------------------------------------


def test_mann_kendall_hand_computed(spark):
    # perfect ascent of 5 points: S = C(5,2) = 10, no ties ->
    # var = 5*4*15/18 = 16.6667, z = 9/sqrt(var)
    import math

    from xmlschemavalidator_spark.checks.stats import mann_kendall

    df = spark.createDataFrame(
        [(float(t), float(t * 2)) for t in range(5)], "x double, y double"
    )
    [r] = mann_kendall(df, "x", "y").collect()
    assert (r["n"], r["s"]) == (5, 10)
    assert r["var_s"] == round(5 * 4 * 15 / 18, 6)
    assert r["z"] == round(9 / math.sqrt(5 * 4 * 15 / 18), 6)
    assert r["trend"] == "increasing"


def test_mann_kendall_tie_corrected_variance(spark):
    # value ties: y = [1,1,2] over x = [0,1,2]: S = 2, value tie t=2
    # var = (3*2*11 - 2*1*9)/18 + 0 + (0 * 2*1)/(2*3*2) = 48/18
    from xmlschemavalidator_spark.checks.stats import mann_kendall

    df = spark.createDataFrame(
        [(0.0, 1.0), (1.0, 1.0), (2.0, 2.0)], "x double, y double"
    )
    [r] = mann_kendall(df, "x", "y").collect()
    assert r["s"] == 2
    assert r["var_s"] == round(48 / 18, 6)
    assert r["trend"] == "no_trend"  # n = 3 can't reach significance


def test_mann_kendall_groups_and_degenerate(spark):
    from xmlschemavalidator_spark.checks.stats import mann_kendall

    rows = (
        [("up", float(t), float(t)) for t in range(12)]
        + [("down", float(t), float(-t)) for t in range(12)]
        + [("flat", float(t), 7.0) for t in range(12)]
        + [("single", 1.0, 1.0)]
    )
    df = spark.createDataFrame(rows, "grp string, x double, y double")
    got = {
        r["grp"]: r for r in mann_kendall(df, "x", "y", group_cols=("grp",)).collect()
    }
    assert got["up"]["trend"] == "increasing"
    assert got["down"]["trend"] == "decreasing"
    # all-tied values: var's y-margin removes everything -> z = NULL
    assert got["flat"]["s"] == 0 and got["flat"]["trend"] == "no_trend"
    assert got["single"]["z"] is None and got["single"]["trend"] == "no_trend"


def test_brown_forsythe_hand_computed(spark):
    # group a: [0, 2] median 0 (lower), z = [0, 2];
    # group b: [0, 6, 8] median 6, z = [6, 0, 2]
    # n=5, k=2; Sa=2, SSa=4; Sb=8, SSb=40
    # sg2 = 4/2 + 64/3; st = 10; sst = 44
    # ssb = sg2 - 100/5; ssw = sst - sg2; f = (ssb/1)/(ssw/3)
    from xmlschemavalidator_spark.checks.stats import brown_forsythe

    rows = [("a", 0.0), ("a", 2.0), ("b", 0.0), ("b", 6.0), ("b", 8.0)]
    df = spark.createDataFrame(rows, "grp string, val double")
    [r] = brown_forsythe(df, "val", "grp", quantum=1).collect()
    sg2 = 4 / 2 + 64 / 3
    ssb = sg2 - 100 / 5
    ssw = 44 - sg2
    assert (r["n"], r["n_groups"]) == (5, 2)
    assert r["f"] == round((ssb / 1) / (ssw / 3), 6)
    assert (r["df_between"], r["df_within"]) == (1, 3)


def test_brown_forsythe_equal_spread_and_degenerate(spark):
    from xmlschemavalidator_spark.checks.stats import brown_forsythe

    # identical shape in both groups (shifted center): z-values equal -> f = 0
    rows = [("a", v) for v in (1.0, 2.0, 3.0)] + [("b", v + 10) for v in (1.0, 2.0, 3.0)]
    df = spark.createDataFrame(rows, "grp string, val double")
    [r] = brown_forsythe(df, "val", "grp").collect()
    assert r["f"] == 0.0
    # all groups internally constant: zero within-variance -> NULL f
    rows = [("a", 1.0), ("a", 1.0), ("b", 5.0), ("b", 5.0)]
    df = spark.createDataFrame(rows, "grp string, val double")
    [r] = brown_forsythe(df, "val", "grp").collect()
    assert r["f"] is None


# ---------------------------------------------------------------------------
# sprt_monitor
# ---------------------------------------------------------------------------


def test_sprt_decides_and_first_crossing_sticks(spark):
    import pytest

    from xmlschemavalidator_spark.checks.sequence import sprt_monitor

    # 20 straight failures against H0 97% / H1 80% pass: LLR climbs by
    # ln(0.2/0.03) ≈ 1.897 per failure; upper bound ln(0.95/0.05) ≈ 2.944
    # -> crosses at the SECOND failure and stays decided
    rows = [(t, False) for t in range(20)]
    df = spark.createDataFrame(rows, "t long, y boolean")
    [r] = sprt_monitor(df, "t", "y", p0_milli=970, p1_milli=800).collect()
    assert r["decision"] == "accept_h1" and r["decided_at"] == 1
    # healthy stream: all passes walk DOWN (ln(0.8/0.97) < 0) to H0
    rows = [(t, True) for t in range(40)]
    df = spark.createDataFrame(rows, "t long, y boolean")
    [r] = sprt_monitor(df, "t", "y", p0_milli=970, p1_milli=800).collect()
    assert r["decision"] == "accept_h0"
    assert r["llr"] <= r["boundary_b"]
    with pytest.raises(ValueError):
        sprt_monitor(df, "t", "y", p0_milli=500, p1_milli=500)


def test_sprt_continue_and_duplicate_order_refused(spark):
    import pytest

    from xmlschemavalidator_spark.checks.sequence import sprt_monitor

    # a short balanced stream stays inside the boundaries
    rows = [(0, True), (1, False), (2, True), (3, False)]
    df = spark.createDataFrame(rows, "t long, y boolean")
    [r] = sprt_monitor(df, "t", "y", p0_milli=600, p1_milli=400).collect()
    assert r["decision"] == "continue" and r["decided_at"] is None
    dup = spark.createDataFrame(
        [(0, True), (0, False)], "t long, y boolean"
    )
    with pytest.raises(ValueError):
        sprt_monitor(dup, "t", "y", p0_milli=600, p1_milli=400)


def test_cliffs_delta_hand_computed(spark):
    from xmlschemavalidator_spark.checks.stats import cliffs_delta

    # a = [3, 4], b = [1, 2, 3]: wins = 5 (3>1,3>2; 4>1,4>2,4>3),
    # ties = 1 (3=3), losses = 0 -> delta = 5/6
    rows = [("a", 3.0), ("a", 4.0), ("b", 1.0), ("b", 2.0), ("b", 3.0)]
    df = spark.createDataFrame(rows, "grp string, val double")
    [r] = cliffs_delta(df, "val", "grp", "a", "b").collect()
    assert (r["wins"], r["losses"], r["ties"]) == (5, 0, 1)
    assert r["delta"] == round(5 / 6, 6)
    assert r["magnitude"] == "large"
    # symmetric: delta 0, negligible
    rows = [("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0)]
    df = spark.createDataFrame(rows, "grp string, val double")
    [r] = cliffs_delta(df, "val", "grp", "a", "b").collect()
    assert r["delta"] == 0.0 and r["magnitude"] == "negligible"


def test_cliffs_delta_ladder_boundary_and_empty(spark):
    from xmlschemavalidator_spark.checks.stats import cliffs_delta

    # delta exactly 0.33: 1000·|num| == 330·den -> 'medium' (>= boundary)
    # build with wins-losses = 33, den = 100: a has 10 values, b has 10;
    # easier: direct construction wins=33+losses... use disjoint halves:
    # a all greater for 33 pairs of 100: 10x10 grid, wins 33 is awkward —
    # use n_a=1, n_b=100: value ordering gives wins k, losses 100-k-ties.
    # wins 67, losses 34 impossible (sum 101) -> use ties: wins 66,
    # ties 1, losses 33 -> num 33, den 100... wins+ties+losses=100 ✓
    a_val = 66.5
    b_vals = [float(i) for i in range(66)] + [66.5] + [float(i + 100) for i in range(33)]
    rows = [("a", a_val)] + [("b", v) for v in b_vals]
    df = spark.createDataFrame(rows, "grp string, val double")
    [r] = cliffs_delta(df, "val", "grp", "a", "b").collect()
    assert (r["wins"], r["ties"], r["losses"]) == (66, 1, 33)
    assert r["delta"] == 0.33 and r["magnitude"] == "medium"
    # empty b cohort
    [r2] = cliffs_delta(df.where("grp = 'a'"), "val", "grp", "a", "b").collect()
    assert r2["delta"] is None and r2["magnitude"] == "undefined"


def test_friedman_hand_computed_and_gates(spark):
    from xmlschemavalidator_spark.checks.stats import friedman_test

    # 3 blocks × 3 treatments with a consistent order t3 > t2 > t1:
    # ranks identical per block -> R = (3, 6, 9); chi2 = 12·126/(3·3·4)
    # − 3·3·4 = 42 − 36 = 6; df 2
    rows = []
    for b in range(3):
        for j, t in enumerate(["t1", "t2", "t3"]):
            rows.append((b, t, float(j + b * 10)))
    df = spark.createDataFrame(rows, "blk long, trt string, val double")
    [r] = friedman_test(df, "blk", "trt", "val").collect()
    assert (r["n_blocks"], r["n_treatments"], r["dof"]) == (3, 3, 2)
    assert r["chi2"] == 6.0
    # incomplete block excluded; all-tied blocks -> zero correction -> NULL
    rows2 = rows + [(9, "t1", 1.0)]
    df2 = spark.createDataFrame(rows2, "blk long, trt string, val double")
    [r2] = friedman_test(df2, "blk", "trt", "val").collect()
    assert r2["n_blocks"] == 3  # the partial block dropped
    flat = spark.createDataFrame(
        [(b, t, 1.0) for b in range(3) for t in ("x", "y")],
        "blk long, trt string, val double",
    )
    [r3] = friedman_test(flat, "blk", "trt", "val").collect()
    assert r3["chi2"] is None and r3["significant"] is False


def test_durbin_watson_hand_computed(spark):
    from xmlschemavalidator_spark.checks.sequence import durbin_watson

    # series 1, 2, 1, 2: num = 1+1+1 = 3 (micro² cancels), den = 1+4+1+4
    rows = [(0, 1.0), (1, 2.0), (2, 1.0), (3, 2.0)]
    df = spark.createDataFrame(rows, "t long, val double")
    [r] = durbin_watson(df, "t", "val").collect()
    assert r["dw"] == 0.3 and r["verdict"] == "positive_autocorr"
    # alternating-sign series reads toward 4
    rows = [(t, 1.0 if t % 2 == 0 else -1.0) for t in range(40)]
    df = spark.createDataFrame(rows, "t long, val double")
    [r] = durbin_watson(df, "t", "val").collect()
    assert r["dw"] == 3.9 and r["verdict"] == "alternating"
    # all-zero series: NULL
    df = spark.createDataFrame([(0, 0.0), (1, 0.0)], "t long, val double")
    [r] = durbin_watson(df, "t", "val").collect()
    assert r["dw"] is None and r["verdict"] is None


def test_runs_test_hand_computed(spark):
    from xmlschemavalidator_spark.checks.sequence import runs_test

    # TTFFT: 3 runs; n1 = 3, n0 = 2 -> E = 2·6/5 + 1 = 3.4
    rows = [(0, True), (1, True), (2, False), (3, False), (4, True)]
    df = spark.createDataFrame(rows, "t long, y boolean")
    [r] = runs_test(df, "t", "y").collect()
    assert (r["n_runs"], r["expected_runs"]) == (3, 3.4)
    assert r["nonrandom"] is False
    # perfectly clustered long sequence: way too few runs
    rows = [(t, t < 50) for t in range(100)]
    df = spark.createDataFrame(rows, "t long, y boolean")
    [r] = runs_test(df, "t", "y").collect()
    assert r["n_runs"] == 2 and r["nonrandom"] is True and r["z"] < -9
    # constant sequence: one run, nothing to test
    df = spark.createDataFrame([(t, True) for t in range(10)], "t long, y boolean")
    [r] = runs_test(df, "t", "y").collect()
    assert r["n_runs"] == 1 and r["z"] is None and r["nonrandom"] is False

"""Driver-contract smoke tests: entry() runs and returns a stable schema;
every queries() entry executes at sf0.001; oracle keys are a subset of
query keys; a sample of oracle pairs hash-matches DuckDB (the full parity
sweep lives in tools/check_oracles.py and runs at sf0.01)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.columns == ["doc_id", "rule_id", "observed_value"]
    assert df.count() >= 0


def test_oracle_keys_subset():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 25
    assert len(oracles) >= 20


def test_front_block_is_50_distinct_oracled_queries():
    """The driver samples the first 50 queries(): the curated front block
    is 50 distinct names, each a query with a DuckDB oracle."""
    from xmlschemavalidator_spark.driver_queries import _FRONT_50, all_oracles

    assert len(_FRONT_50) == 50
    assert len(set(_FRONT_50)) == 50
    assert set(_FRONT_50) <= set(all_oracles())
    assert list(entrymod.queries())[:50] == list(_FRONT_50)


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_each_query_runs(spark, name):
    fn = entrymod.queries()[name]
    df = fn(spark, SF)
    assert df.count() >= 0


def test_sampled_oracle_parity(spark):
    import duckdb

    from tools.check_oracles import TABLES, frame_hash

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name in ["facet_enumeration", "verdicts_wide", "agg_pricing_summary", "ann_cosine_topk"]:
        sdf = qs[name](spark, SF).toPandas()
        ddf = con.execute(oracles[name]).df()
        assert frame_hash(sdf) == frame_hash(ddf), name

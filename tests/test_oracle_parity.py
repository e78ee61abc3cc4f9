"""Every queries() entry vs its DuckDB oracle at sf0.001 — the same
comparison the driver makes at sf0.01, run in CI so divergences are
caught immediately."""

from __future__ import annotations

from collections import Counter

import pytest

import __spark_entry__ as entrymod
from simple_etl_pipeline_spark.testing import compare_with_oracle

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


def test_every_query_has_an_oracle():
    assert set(QUERIES) - set(ORACLES) == set()


def test_no_query_name_in_two_modules():
    """queries()/oracle_sql() merge the per-module dicts, so a name
    defined in two modules would silently shadow one of them."""
    for attr in ("QUERIES", "ORACLES"):
        counts = Counter(
            n for mod in entrymod._all_modules() for n in getattr(mod, attr)
        )
        assert [n for n, c in counts.items() if c > 1] == [], attr


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    compare_with_oracle(df, ORACLES[name], sf_dir)


def test_compare_with_oracle_negative_control(spark, sf_dir):
    """The comparison must be able to FAIL on each divergence class an
    oracle hash catches — a value perturbation, a dropped row and a
    renamed column. If any of these passed silently, every green row
    of test_query_matches_oracle would be meaningless."""
    from pyspark.sql import functions as F

    name = "ev_changepoint_cusum"
    query, oracle = QUERIES[name], ORACLES[name]
    good = query(spark, sf_dir)
    # control arm: the genuine result passes (so the failures below
    # are attributable to the mutations, not the fixture)
    compare_with_oracle(good, oracle, sf_dir)
    wrong_value = query(spark, sf_dir).withColumn(
        "n_events", F.col("n_events") + F.lit(1)
    )
    with pytest.raises(AssertionError):
        compare_with_oracle(wrong_value, oracle, sf_dir)
    dropped_row = query(spark, sf_dir).limit(good.count() - 1)
    with pytest.raises(AssertionError):
        compare_with_oracle(dropped_row, oracle, sf_dir)
    renamed = query(spark, sf_dir).withColumnRenamed("n_events", "n_event")
    with pytest.raises(AssertionError):
        compare_with_oracle(renamed, oracle, sf_dir)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0

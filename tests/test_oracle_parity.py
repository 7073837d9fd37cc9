"""Every registered query, driver and local tier, must hash-match its
DuckDB oracle at sf0.001 — the same comparison the driver runs at
sf0.01 (BASELINE.md t2)."""

from __future__ import annotations

import pytest

from erathia_market_etl_spark.plans import (
    all_oracles,
    all_queries,
    local_queries,
)
from erathia_market_etl_spark.testing import compare_query

from .conftest import SF_SMOKE

QUERIES = all_queries()
ORACLES = all_oracles()
LOCAL = local_queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, name):
    result = compare_query(name, QUERIES[name](spark, SF_SMOKE), ORACLES[name], SF_SMOKE)
    assert result.ok, (
        f"{name}: spark_rows={result.spark_rows} oracle_rows={result.oracle_rows} "
        f"cols_match={result.columns_match} hash={result.hash_match}\n"
        f"spark cols: {result.spark_cols}\noracle cols: {result.oracle_cols}"
    )


def test_every_registered_query_has_an_oracle():
    """Full oracle coverage, asserted explicitly (r12 VERDICT item 2):
    this used to be a parametrize over ``QUERIES - ORACLES`` that ran
    each oracle-less query for rows>=0; once every registered query
    gained an oracle the empty parameter set became a silent pytest
    SKIP — evidence that could quietly disappear. If an oracle-less
    query is ever registered again, this fails loudly and the rows-only
    smoke run must be reinstated for it."""
    assert sorted(set(QUERIES) - set(ORACLES)) == []


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "nation_name" in df.columns


@pytest.mark.parametrize("name", sorted(LOCAL))
def test_queued_queries_match(spark, name):
    """The local tier runs through the same compare as the driver tier."""
    fn, oracle = LOCAL[name]
    result = compare_query(name, fn(spark, SF_SMOKE), oracle, SF_SMOKE)
    assert result.ok, result


def test_quality_gate_splits_corpus(spark):
    # non-vacuous: the gate must split the fixture corpus both ways
    from erathia_market_etl_spark.plans.text_queries import text_quality_gate

    rows = text_quality_gate(spark, SF_SMOKE).collect()
    kept = sum(1 for r in rows if r["keep"])
    assert 0 < kept < len(rows), (kept, len(rows))

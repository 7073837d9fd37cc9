"""Golden-pipeline and invariant tests for the medallion rebuild
(SURVEY.md §5 rebuild strategy #2/#3/#4): seeded end-to-end run, simulator
economic invariants, silver cleaning semantics, mart shapes, and the
weekday-convention trap."""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import urllib.request

import duckdb
import pytest
from pyspark.errors import AnalysisException

from erathia_market_etl_spark.config import SimulationConfig
from erathia_market_etl_spark.generator.bronze import calendar_rows, generate_bronze
from erathia_market_etl_spark.generator.definitions import (
    customers,
    product_categories,
    products,
    towns,
)
from erathia_market_etl_spark.generator.simulate import (
    ARTIFACT_POOL_SIZE,
    MarketSimulator,
)
from erathia_market_etl_spark.pipeline import (
    DIM_TABLES,
    MART_SQL,
    run_full_pipeline,
    run_gold,
    run_silver,
)
from erathia_market_etl_spark.testing import rows_fingerprint

N_WEEKS = 30


def _mini_sim(seed=42):
    cfg = SimulationConfig()
    cal = calendar_rows(cfg)
    return MarketSimulator(
        [r["date_key"] for r in cal], [k for k, _, _ in towns()], seed=seed
    )


# -- definitions cardinalities (SURVEY §1.2) --------------------------------

def test_definition_cardinalities():
    assert len(customers()) == 254
    assert len(products()) == 46
    assert len(product_categories()) == 7
    assert len(towns()) == 45
    segs = [c.segment for c in customers()]
    assert segs.count("Standard") == 126 and segs.count("VIP") == 128


def test_calendar_weekday_convention():
    cfg = SimulationConfig()
    rows = calendar_rows(cfg)
    assert len(rows) == 731  # 2000-01-01..2001-12-31 incl. leap day
    # 2000-01-01 was a Saturday: pandas/python convention -> 5
    first = rows[0]
    assert first["day_of_week"] == 5 and first["is_weekend"] is True
    assert first["year"] == 1168 and first["date_key"] == 11680101
    # every weekend flag consistent with Mon=0 convention
    assert all((r["day_of_week"] in (5, 6)) == r["is_weekend"] for r in rows)


# -- simulator invariants (SURVEY §5 #4) ------------------------------------

def test_simulator_invariants():
    sim = _mini_sim()
    all_trades = []
    for _, trades in sim.run_weeks(N_WEEKS):
        all_trades.extend(trades)
        for a in sim.agents:
            assert a.gold >= 0.0  # G1 floor
        for k, left in sim.artifact_pool.items():
            assert 0 <= left <= ARTIFACT_POOL_SIZE[sim.products[k].tier_level]
        for p in sim.products.values():  # G9 clamp
            if p.category_name == "Resources":
                assert 0.1 * p.base_value_gold <= sim.prices[p.key] <= 10 * p.base_value_gold
            else:  # artifacts never reprice (§7.5 #7)
                assert sim.prices[p.key] == p.base_value_gold

    assert len(all_trades) > 0
    keys = [t.trade_key for t in all_trades]
    assert keys == sorted(keys) and len(set(keys)) == len(keys)
    # one artifact per agent, globally bounded (G10)
    owned = {}
    for t in all_trades:
        if t.product_key in sim.artifact_pool and t.transaction_type == "BUY":
            owned.setdefault(t.customer_key, []).append(t.product_key)
    for buyer, arts in owned.items():
        assert len(arts) == len(set(arts))  # never buys same artifact twice
    # the Base-tier Gold product never trades (§7.5 #8)
    gold_key = next(p.key for p in products() if p.tier_level == "Base")
    assert all(t.product_key != gold_key for t in all_trades)


def test_simulator_deterministic():
    t1 = [t for _, ts in _mini_sim(7).run_weeks(10) for t in ts]
    t2 = [t for _, ts in _mini_sim(7).run_weeks(10) for t in ts]
    assert t1 == t2
    t3 = [t for _, ts in _mini_sim(8).run_weeks(10) for t in ts]
    assert t1 != t3


# -- end-to-end medallion run (golden pipeline, SURVEY §5 #2) ---------------

@pytest.fixture(scope="module")
def pipeline_result(spark, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("medallion"))
    result = run_full_pipeline(spark, work, weeks=N_WEEKS, seed=42)
    return work, result


def test_pipeline_counts(pipeline_result, spark):
    _, result = pipeline_result
    assert result["bronze"]["dims"] == {
        "dim_faction": 9, "dim_town": 45, "dim_customer": 254,
        "dim_product_category": 7, "dim_product": 46, "dim_date": 731,
    }
    assert result["bronze"]["fact_rows"] > 0
    # silver cleaning only ever removes rows
    assert result["silver"]["fact_sales"] <= result["bronze"]["fact_rows"]
    assert result["silver"]["dim_customer"] == 254


def test_silver_semantics(pipeline_result, spark):
    work, _ = pipeline_result
    fact = spark.read.parquet(f"{work}/silver/fact_sales")
    assert fact.filter("quantity = 0").count() == 0
    assert fact.filter(
        "trade_key IS NULL OR customer_key IS NULL OR product_key IS NULL OR date_key IS NULL"
    ).count() == 0
    # partition columns recovered from hive dirs
    assert {"year", "month"} <= set(fact.columns)
    cust = spark.read.parquet(f"{work}/silver/dim_customer")
    assert "is_hero" in cust.columns
    mism = cust.filter(
        "(customer_segment = 'VIP') <> is_hero"
    ).count()
    assert mism == 0


def test_gold_marts(pipeline_result, spark):
    work, result = pipeline_result
    marts = run_gold(spark, f"{work}/silver")
    # table names and aliases match gold_aggregator.py:27-125 exactly
    assert set(marts) == {
        "dm_faction_economy", "dm_resource_price_history",
        "dm_top_vip_customers", "dm_artifact_sales_summary",
    }
    q1 = marts["dm_faction_economy"].collect()
    assert 0 < len(q1) <= 9
    assert q1[0].asDict().keys() == {
        "Faction Name", "Total Gold Spent", "Total Gold Earned",
        "Net Profit", "Total Transactions",
    }
    assert q1[0]["Net Profit"] >= q1[-1]["Net Profit"]  # DESC order
    for r in q1:  # net = earned - spent (2dp)
        assert abs(r["Net Profit"] - round(r["Total Gold Earned"] - r["Total Gold Spent"], 2)) < 0.011
    q2 = marts["dm_resource_price_history"]
    assert {"Average Price", "Total Quantity Traded"} <= set(q2.columns)
    q3 = marts["dm_top_vip_customers"]
    assert q3.count() <= 100
    assert {"Faction", "Total Spent", "Total Earned",
            "Total Transactions"} <= set(q3.columns)
    assert all(r["Faction"] for r in q3.collect())
    q4 = marts["dm_artifact_sales_summary"].collect()
    sold = [r["Total Sold"] for r in q4]
    assert sold == sorted(sold)  # ASC on Total Sold


def test_pipeline_deterministic_marts(spark, tmp_path_factory, pipeline_result):
    """Same seed + weeks -> byte-identical mart contents (the reference's
    implicit golden-output mechanism, automated)."""
    work2 = str(tmp_path_factory.mktemp("medallion2"))
    run_full_pipeline(spark, work2, weeks=N_WEEKS, seed=42)
    work1, _ = pipeline_result
    a = spark.read.parquet(f"{work1}/gold/dm_faction_economy").collect()
    b = spark.read.parquet(f"{work2}/gold/dm_faction_economy").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def _silver_con(silver: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW fact_sales AS SELECT * FROM read_parquet("
        f"'{silver}/fact_sales/*/*/*.parquet', hive_partitioning=1)")
    for t in DIM_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{silver}/{t}/*.parquet')")
    return con


def _fingerprint(pdf) -> tuple[list[str], str]:
    cols = list(pdf.columns)
    rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
    return sorted(cols), rows_fingerprint(cols, rows)


def test_gold_marts_match_duckdb_oracle(pipeline_result):
    """Each mart run_gold wrote equals DuckDB running MART_SQL over the
    same silver parquet, and every silver Observation count equals
    DuckDB's COUNT(*) of the table it rode on."""
    work, result = pipeline_result
    con = _silver_con(f"{work}/silver")
    try:
        for table, n in result["silver"].items():
            assert con.execute(f"SELECT COUNT(*) FROM {table}").fetchone()[0] == n, table
        for mart, sql in MART_SQL.items():
            want = con.execute(sql.replace("`", '"')).df()
            want.columns = [c.replace(" ", "_").lower() for c in want.columns]
            got = con.execute(f"SELECT * FROM read_parquet('{work}/gold/{mart}/*.parquet')").df()
            assert len(got) == len(want) > 0, mart
            assert _fingerprint(got) == _fingerprint(want), mart
    finally:
        con.close()


def _sql_executions(sc) -> list[dict]:
    """The SQL executions in the session's status store, from the local
    UI's REST API."""
    url = (f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
           "/sql?details=false&planDescription=false&offset=0&length=100000")
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def test_medallion_jobs_keep_callers_job_group(spark, pipeline_result, tmp_path):
    """The concurrent writes run in pool threads. Every job they launch
    must still carry the caller's job group, and each write must stay
    its own SQL execution: workers sharing one copy of the local
    properties would file every job under one execution id and leave
    the others RUNNING in the status store."""
    work, _ = pipeline_result
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def probe() -> int:
        sc.setJobGroup("medallion-probe", "probe")
        spark.range(1).collect()
        return max(tracker.getJobIdsForGroup("medallion-probe"))

    ungrouped = set(tracker.getJobIdsForGroup(None))
    try:
        first = probe()
        first_exec = max(e["id"] for e in _sql_executions(sc))
        sc.setJobGroup("medallion-tag", "silver and gold")
        run_silver(spark, f"{work}/bronze", str(tmp_path / "silver"))
        run_gold(spark, str(tmp_path / "silver"), str(tmp_path / "gold"))
        last = probe()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    launched = set(range(first + 1, last))
    assert len(launched) >= 7 + 7 + 4
    assert launched <= set(tracker.getJobIdsForGroup("medallion-tag"))
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()

    # the status store is filled by an asynchronous listener
    deadline = time.monotonic() + 30
    while True:
        execs = [e for e in _sql_executions(sc) if e["id"] > first_exec]
        if all(e["status"] == "COMPLETED" for e in execs) or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    assert [e["id"] for e in execs if e["status"] != "COMPLETED"] == []
    writes = [e for e in execs if launched & set(e["successJobIds"])]
    assert len(writes) >= 7 + 4


def test_run_silver_missing_dim_raises_path_not_found(spark, pipeline_result, tmp_path):
    work, _ = pipeline_result
    bronze = str(tmp_path / "bronze")
    shutil.copytree(f"{work}/bronze", bronze)
    os.remove(f"{bronze}/dim_town.parquet")
    threads = set(threading.enumerate())
    t0 = time.perf_counter()
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        run_silver(spark, bronze, str(tmp_path / "silver"))
    assert time.perf_counter() - t0 < 120
    assert set(threading.enumerate()) - threads == set()


def test_run_gold_missing_silver_table_raises_path_not_found(spark, pipeline_result, tmp_path):
    work, _ = pipeline_result
    silver = str(tmp_path / "silver")
    shutil.copytree(f"{work}/silver", silver)
    shutil.rmtree(f"{silver}/dim_product")
    threads = set(threading.enumerate())
    t0 = time.perf_counter()
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        run_gold(spark, silver, str(tmp_path / "gold"))
    assert time.perf_counter() - t0 < 120
    assert set(threading.enumerate()) - threads == set()

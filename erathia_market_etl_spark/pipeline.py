"""Medallion pipeline: bronze -> silver -> gold on one Spark engine.

The reference runs this across three engines — pandas writes bronze,
Spark cleans silver, DuckDB aggregates gold (main.py entry points A/B,
SURVEY.md §3). Here Spark does all of it: silver is the operator set of
src/silver_processor.py:38-73 (P1-P4, S7/S8), gold is the four
dm_* data marts of src/gold_aggregator.py:27-125 executed by Catalyst
over temp views, with the same business-facing column aliases (spaces
and all — backticked in Spark SQL, SURVEY.md §7.4).

Scale notes: the fact is read with Hive partition discovery and written
back partitioned by (year, month) so date-bounded mart queries prune;
every dim join broadcasts (dims are KB-sized at any fact scale); the
marts' group-bys are the only shuffles. The independent table writes of
a layer run concurrently, one pool worker per output and no setting:
at small scale this overlaps the per-job driver time (planning, schema
inference, the Observation wait, the commit); at fact scale the fact
write holds the task slots and the KB-sized dim jobs run in its gaps.
Do not run two ``run_silver`` calls on one session at once: their
Observation names would collide.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from functools import partial
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.util import inheritable_thread_target

T = TypeVar("T")

# The reference DECLARED an explicit fact schema but never imported it
# anywhere (schemas.py:6-19 — dead code; SURVEY.md §1.4). Here it is an
# applied contract: the silver read enforces it, so upstream type drift
# (a re-generated bronze with a widened or stringified column) fails
# loudly at the scan instead of silently poisoning every mart.
# Divergence from the reference's text, on purpose: date_key is LONG —
# the reference declared IntegerType yet its own generator writes int64
# (one more symptom of the schema never being applied); a contract must
# match the bytes actually on disk. year/month are the hive partition
# columns (parsed int).
FACT_SALES_SCHEMA = StructType(
    [
        StructField("trade_key", LongType()),
        StructField("date_key", LongType()),
        StructField("transaction_type", StringType()),
        StructField("customer_key", LongType()),
        StructField("product_key", LongType()),
        StructField("town_key", LongType()),
        StructField("quantity", DoubleType()),
        StructField("gold_per_unit", DoubleType()),
        StructField("gold_total", DoubleType()),
        StructField("current_gold_balance", DoubleType()),
        StructField("year", IntegerType()),
        StructField("month", IntegerType()),
    ]
)

DIM_TABLES = [
    "dim_faction", "dim_town", "dim_customer",
    "dim_product_category", "dim_product", "dim_date",
]
DIM_KEYS = {
    "dim_faction": "faction_key",
    "dim_town": "town_key",
    "dim_customer": "customer_key",
    "dim_product_category": "category_key",
    "dim_product": "product_key",
    "dim_date": "date_key",
}
FACT_KEY_COLS = ["trade_key", "customer_key", "product_key", "date_key"]


# ---------------------------------------------------------------------------
# Silver (ref: src/silver_processor.py:7-73)
# ---------------------------------------------------------------------------

def clean_fact(fact: DataFrame) -> DataFrame:
    """P1 null-drop on the key subset + P2 quantity != 0. Both predicates
    push into the parquet scan."""
    return fact.na.drop(subset=FACT_KEY_COLS).filter(F.col("quantity") != 0)


def enrich_customer(dim_customer: DataFrame) -> DataFrame:
    """P4 dedup by key + P3 derived is_hero flag (VIP segment)."""
    return dim_customer.dropDuplicates(["customer_key"]).withColumn(
        "is_hero",
        F.when(F.col("customer_segment") == "VIP", F.lit(True)).otherwise(F.lit(False)),
    )


def _run_concurrently(spark: SparkSession,
                      tasks: dict[str, Callable[[], T]]) -> dict[str, T]:
    """Run independent Spark actions at once, one worker per task, and
    return each task's result by name once all of them are done. Every
    worker inherits the caller's job group, local properties and tags,
    so its jobs are attributed to the caller's step. A failing task's
    own exception is re-raised once every worker has stopped."""
    with ThreadPoolExecutor(max_workers=len(tasks),
                            thread_name_prefix="medallion") as pool:
        # One wrapper per task: each wrapper holds its own copy of the
        # caller's local properties, and the task's SQL execution writes
        # its execution id into that copy. A shared copy would file every
        # task's jobs under whichever execution set the id last.
        futures = {name: pool.submit(inheritable_thread_target(spark)(fn))
                   for name, fn in tasks.items()}
        return {name: f.result() for name, f in futures.items()}


def _write_silver_fact(spark: SparkSession, bronze_dir: str,
                       silver_dir: str) -> int:
    fact = spark.read.schema(FACT_SALES_SCHEMA).parquet(
        os.path.join(bronze_dir, "fact_sales")
    )
    obs = Observation("silver_fact_rows")
    fact = clean_fact(fact).observe(obs, F.count(F.lit(1)).alias("rows"))
    fact.write.mode("overwrite").partitionBy("year", "month").parquet(
        os.path.join(silver_dir, "fact_sales")
    )
    return obs.get["rows"]


def _write_silver_dim(spark: SparkSession, bronze_dir: str,
                      silver_dir: str, name: str) -> int:
    df = spark.read.parquet(os.path.join(bronze_dir, f"{name}.parquet"))
    if name == "dim_customer":
        df = enrich_customer(df)
    else:
        df = df.dropDuplicates([DIM_KEYS[name]])
    obs = Observation(f"silver_{name}_rows")
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(silver_dir, name))
    return obs.get["rows"]


def run_silver(spark: SparkSession, bronze_dir: str, silver_dir: str) -> dict[str, int]:
    """Clean every bronze table into silver parquet: fact partitioned by
    (year, month) (S7), dims compacted to one file (S8). The seven
    writes are independent and run concurrently. Returns row counts
    (the reference's verification probe, S13) via ``observe`` — the
    count rides on the write job itself, so the probe is free; a
    post-write ``.count()`` would re-execute the whole clean pipeline
    (a second full scan of the fact at 100 TB)."""
    tasks = {"fact_sales": partial(_write_silver_fact, spark, bronze_dir, silver_dir)}
    for name in DIM_TABLES:
        tasks[name] = partial(_write_silver_dim, spark, bronze_dir, silver_dir, name)
    return _run_concurrently(spark, tasks)


def register_silver_views(spark: SparkSession, silver_dir: str) -> None:
    """Expose silver tables to SQL — replaces the reference's DuckDB
    ingest (S9): same engine end-to-end, no parquet round-trip between
    silver and gold. The reads (one schema-inference job each) run
    concurrently; the views are created on the calling thread."""
    frames = _run_concurrently(spark, {
        name: partial(spark.read.parquet, os.path.join(silver_dir, name))
        for name in ["fact_sales", *DIM_TABLES]
    })
    for name, df in frames.items():
        df.createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# Gold data marts (ref: src/gold_aggregator.py:27-125)
# ---------------------------------------------------------------------------

MART_SQL: dict[str, str] = {
    # Q1 — faction economy: spend vs earn + net (gold_aggregator.py:27-48).
    # Table name and every alias match the reference exactly; the
    # `Faction Name` tiebreak is the one documented addition (the
    # reference's bare DESC sort is nondeterministic on ties, §7.4).
    "dm_faction_economy": """
        WITH faction_sales AS (
            SELECT f.faction_name, s.transaction_type, s.gold_total
            FROM fact_sales s
            JOIN dim_customer c ON s.customer_key = c.customer_key
            JOIN dim_faction f  ON c.faction_key = f.faction_key
        )
        SELECT faction_name AS `Faction Name`,
               ROUND(SUM(CASE WHEN transaction_type = 'BUY'  THEN gold_total ELSE 0 END), 2) AS `Total Gold Spent`,
               ROUND(SUM(CASE WHEN transaction_type = 'SELL' THEN gold_total ELSE 0 END), 2) AS `Total Gold Earned`,
               ROUND(SUM(CASE WHEN transaction_type = 'SELL' THEN gold_total ELSE 0 END)
                   - SUM(CASE WHEN transaction_type = 'BUY'  THEN gold_total ELSE 0 END), 2) AS `Net Profit`,
               COUNT(*) AS `Total Transactions`
        FROM faction_sales
        GROUP BY faction_name
        ORDER BY `Net Profit` DESC, `Faction Name`
    """,
    # Q2 — monthly resource price history (gold_aggregator.py:56-75)
    "dm_resource_price_history": """
        SELECT d.year AS `Year`,
               d.month AS `Month`,
               p.product_name AS `Resource Name`,
               ROUND(AVG(s.gold_per_unit), 2) AS `Average Price`,
               ROUND(SUM(s.quantity), 2) AS `Total Quantity Traded`
        FROM fact_sales s
        JOIN dim_product p           ON s.product_key = p.product_key
        JOIN dim_product_category pc ON p.category_key = pc.category_key
        JOIN dim_date d              ON s.date_key = d.date_key
        WHERE pc.category_name = 'Resources' AND s.transaction_type = 'BUY'
        GROUP BY d.year, d.month, p.product_name
        ORDER BY `Year`, `Month`, `Resource Name`
    """,
    # Q3 — top-100 VIP spenders + earners (gold_aggregator.py:83-101)
    "dm_top_vip_customers": """
        SELECT c.customer_name AS `Customer Name`,
               f.faction_name AS `Faction`,
               ROUND(SUM(CASE WHEN s.transaction_type = 'BUY'  THEN s.gold_total ELSE 0 END), 2) AS `Total Spent`,
               ROUND(SUM(CASE WHEN s.transaction_type = 'SELL' THEN s.gold_total ELSE 0 END), 2) AS `Total Earned`,
               COUNT(s.trade_key) AS `Total Transactions`
        FROM fact_sales s
        JOIN dim_customer c ON s.customer_key = c.customer_key
        JOIN dim_faction f  ON c.faction_key = f.faction_key
        WHERE c.customer_segment = 'VIP'
        GROUP BY c.customer_name, f.faction_name
        ORDER BY `Total Spent` DESC, `Customer Name`
        LIMIT 100
    """,
    # Q4 — artifact sales; BUY count labeled "Total Sold" on purpose
    # (gold_aggregator.py:106-125; SURVEY.md §7.5 #6 — replicate, don't fix)
    "dm_artifact_sales_summary": """
        SELECT p.product_name AS `Artifact Name`,
               pc.tier_level AS `Tier`,
               COUNT(s.trade_key) AS `Total Sold`,
               ROUND(SUM(s.gold_total), 2) AS `Total Gold Value`
        FROM fact_sales s
        JOIN dim_product p           ON s.product_key = p.product_key
        JOIN dim_product_category pc ON p.category_key = pc.category_key
        WHERE pc.category_name = 'Artifacts' AND s.transaction_type = 'BUY'
        GROUP BY p.product_name, pc.tier_level
        ORDER BY `Total Sold` ASC, `Total Gold Value` DESC
    """,
}


def run_gold(spark: SparkSession, silver_dir: str,
             gold_dir: str | None = None) -> dict[str, DataFrame]:
    """Build the four dm_* marts over silver views. When ``gold_dir`` is
    given each mart also materializes to parquet, the four writes
    running concurrently (column names are sanitized for parquet writers
    that reject spaces — marts keep their business aliases in-session;
    SURVEY.md §7.4)."""
    register_silver_views(spark, silver_dir)
    marts = {name: spark.sql(sql) for name, sql in MART_SQL.items()}
    if gold_dir:
        _run_concurrently(spark, {
            name: partial(_write_mart, df, os.path.join(gold_dir, name))
            for name, df in marts.items()
        })
    return marts


def _write_mart(df: DataFrame, path: str) -> None:
    safe = df.select(*[F.col(c).alias(c.replace(" ", "_").lower()) for c in df.columns])
    safe.coalesce(1).write.mode("overwrite").parquet(path)


def run_full_pipeline(spark: SparkSession, work_dir: str,
                      weeks: int | None = None, seed: int | None = None) -> dict:
    """Entry point D analog (main.py choice '4'): bronze generation ->
    silver cleaning -> gold marts, one call."""
    from .config import SimulationConfig
    from .generator.bronze import generate_bronze

    cfg = SimulationConfig()
    if seed is not None:
        cfg.seed = seed
    bronze_dir = os.path.join(work_dir, "bronze")
    silver_dir = os.path.join(work_dir, "silver")
    gold_dir = os.path.join(work_dir, "gold")
    stats = generate_bronze(bronze_dir, weeks=weeks, cfg=cfg)
    silver_counts = run_silver(spark, bronze_dir, silver_dir)
    marts = run_gold(spark, silver_dir, gold_dir)
    for name, df in marts.items():
        df.createOrReplaceTempView(name)
    return {"bronze": stats, "silver": silver_counts, "marts": list(marts)}

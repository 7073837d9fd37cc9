"""The benchmark's workloads.

A workload is a list of ops. One op is one call into the engine's
public API: a registry query (construction, then a noop write for
execution) or one step of the medallion pipeline. ``run_op`` runs an
op under the tracer's spans; ``warm_up_op`` runs it once, untimed, and
checks its output against an oracle that does not use Spark.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field

import duckdb

# Text, dedup and similarity queries: Python UDFs over Arrow batches
# and eager plan construction that runs Spark jobs of its own.
CORPUS_QUERIES = [
    "text_winnowing_fingerprints",
    "sim_topk_vectorized",
    "pipeline_training_funnel",
]
# The medallion write path, in the order each step reads what the one
# before it wrote.
MEDALLION_STEPS = [
    "generate_bronze",
    "run_silver",
    "run_gold",
    "streaming_rollup",
]
MEDALLION_WEEKS = 104

WORKLOADS = {
    "corpus_sf001": (CORPUS_QUERIES, []),
    "medallion_write": ([], MEDALLION_STEPS),
}


@dataclass
class OpResult:
    construct_s: float = 0.0
    exec_s: float = 0.0
    # values a step reports about its own output (rows, state size)
    facts: dict = field(default_factory=dict)

    @property
    def latency_s(self) -> float:
        return self.construct_s + self.exec_s


@dataclass
class Check:
    ok: bool
    rows: int
    detail: str = ""


class Workload:
    """Registry queries over one fixture directory plus, optionally, the
    medallion steps. Every pass of the steps writes into a fresh
    directory under ``work_dir``; ``seed`` is the simulation seed."""

    def __init__(self, queries: list[str], steps: list[str], sf_dir: str,
                 work_dir: str, seed: int):
        from erathia_market_etl_spark.plans import all_oracles, all_queries

        registry, oracles = all_queries(), all_oracles()
        self.queries = {n: registry[n] for n in queries}
        self.oracles = {n: oracles[n] for n in queries}
        self.steps = list(steps)
        self.ops = list(queries) + self.steps
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.seed = seed
        self.dirs: dict[str, str] = {}

    def order(self, rng: random.Random) -> list[str]:
        """The queries in a random order, then the steps in theirs."""
        queries = list(self.queries)
        rng.shuffle(queries)
        return queries + self.steps

    def start_pass(self, pass_key: str) -> None:
        base = os.path.join(self.work_dir, pass_key)
        self.dirs = {k: os.path.join(base, k) for k in
                     ("bronze", "silver", "gold", "state", "checkpoint")}

    def end_pass(self) -> None:
        if self.dirs:
            shutil.rmtree(os.path.dirname(self.dirs["bronze"]),
                          ignore_errors=True)

    def run_op(self, spark, tracer, name: str, op_key: str) -> OpResult:
        if name in self.queries:
            return self._run_query(spark, tracer, name, op_key)
        return self._run_step(spark, tracer, name, op_key)

    def warm_up_op(self, spark, tracer, name: str) -> Check:
        if name in self.queries:
            return self._check_query(spark, name)
        self._run_step(spark, tracer, name, "warmup")
        if name == "run_gold":
            return self._check_marts()
        if name == "streaming_rollup":
            return self._check_rollup(spark)
        return Check(True, 0)

    # -- queries --------------------------------------------------------

    def _run_query(self, spark, tracer, name, op_key) -> OpResult:
        res = OpResult()
        with tracer.span(f"plans.{name}",
                         tracer.group(op_key, "construct")) as t:
            df = self.queries[name](spark, self.sf_dir)
        res.construct_s = t.seconds
        with tracer.span("noop_write", tracer.group(op_key, "exec")) as t:
            df.write.mode("overwrite").format("noop").save()
        res.exec_s = t.seconds
        return res

    def _check_query(self, spark, name) -> Check:
        """Run the query once through the DuckDB oracle compare."""
        from erathia_market_etl_spark.testing import compare_query

        df = self.queries[name](spark, self.sf_dir)
        r = compare_query(name, df, self.oracles[name], self.sf_dir)
        detail = "" if r.ok else (
            f"rows {r.spark_rows} vs oracle {r.oracle_rows}, "
            f"columns_match={r.columns_match}, hash_match={r.hash_match}")
        return Check(r.ok, r.spark_rows, detail)

    # -- medallion steps ------------------------------------------------

    def _run_step(self, spark, tracer, name, op_key) -> OpResult:
        from erathia_market_etl_spark.config import SimulationConfig
        from erathia_market_etl_spark.generator.bronze import generate_bronze
        from erathia_market_etl_spark.pipeline import run_gold, run_silver
        from erathia_market_etl_spark.streaming.event_stream import (
            read_rollup_state,
            stream_events,
            streaming_rollup_append,
        )

        d = self.dirs
        res = OpResult()
        with tracer.span(name, tracer.group(op_key, "exec")) as t:
            if name == "generate_bronze":
                stats = generate_bronze(d["bronze"], weeks=MEDALLION_WEEKS,
                                        cfg=SimulationConfig(seed=self.seed))
                res.facts["fact_rows"] = stats["fact_rows"]
            elif name == "run_silver":
                counts = run_silver(spark, d["bronze"], d["silver"])
                res.facts["fact_rows"] = counts["fact_sales"]
            elif name == "run_gold":
                run_gold(spark, d["silver"], d["gold"])
            elif name == "streaming_rollup":
                # one AvailableNow micro-batch run, then merge-on-read
                with tracer.span("streaming_rollup_append"):
                    streaming_rollup_append(
                        stream_events(spark, self.sf_dir), d["state"],
                        checkpoint=d["checkpoint"])
                with tracer.span("read_rollup_state"):
                    res.facts["state_rows"] = read_rollup_state(
                        spark, d["state"]).count()
            else:
                raise ValueError(f"unknown step {name!r}")
        res.exec_s = t.seconds
        return res

    def _check_marts(self) -> Check:
        """DuckDB runs the gold mart SQL over the silver parquet; each
        mart the pipeline wrote must hold the same rows."""
        from erathia_market_etl_spark.pipeline import DIM_TABLES, MART_SQL
        from erathia_market_etl_spark.testing import rows_fingerprint

        silver, gold = self.dirs["silver"], self.dirs["gold"]
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW fact_sales AS SELECT * FROM read_parquet("
                f"'{silver}/fact_sales/*/*/*.parquet', hive_partitioning=1)")
            for t in DIM_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{silver}/{t}/*.parquet')")
            rows = 0
            bad = []
            for mart, sql in MART_SQL.items():
                want = con.execute(sql.replace("`", '"')).df()
                want.columns = [c.replace(" ", "_").lower()
                                for c in want.columns]
                got = con.execute("SELECT * FROM read_parquet("
                                  f"'{gold}/{mart}/*.parquet')").df()
                rows += len(got)
                if sorted(want.columns) != sorted(got.columns) or \
                        rows_fingerprint(list(want.columns),
                                         _rows(want)) != \
                        rows_fingerprint(list(got.columns), _rows(got)):
                    bad.append(mart)
        finally:
            con.close()
        return Check(not bad, rows, f"marts differ: {bad}" if bad else "")

    def _check_rollup(self, spark) -> Check:
        """The merged streaming state equals the batch rollup of the
        same events."""
        from erathia_market_etl_spark.plans.event_windows import (
            day_rollup_state,
        )
        from erathia_market_etl_spark.sources.events import load_events
        from erathia_market_etl_spark.streaming.event_stream import (
            read_rollup_state,
        )
        from erathia_market_etl_spark.testing import rows_fingerprint

        got = read_rollup_state(spark, self.dirs["state"]).toPandas()
        want = day_rollup_state(load_events(spark, self.sf_dir)).toPandas()
        ok = sorted(got.columns) == sorted(want.columns) and \
            rows_fingerprint(list(got.columns), _rows(got)) == \
            rows_fingerprint(list(want.columns), _rows(want))
        return Check(ok, len(got), "" if ok else "rollup state differs")


def _rows(pdf) -> list[tuple]:
    return [tuple(r) for r in pdf.itertuples(index=False, name=None)]


def make_workload(name: str, sf_dir: str, work_dir: str,
                  seed: int) -> Workload:
    queries, steps = WORKLOADS[name]
    return Workload(queries, steps, sf_dir, work_dir, seed)

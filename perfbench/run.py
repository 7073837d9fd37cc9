"""Benchmark of the erathia_market_etl_spark engine.

Runs one workload in one process on ``local[<nproc>]``:

1. set-up: start the session, start the Python workers, and run one
   untimed warm-up pass that also checks every op's output against its
   oracle;
2. a fixed number of timed passes (``--seconds`` divided by the
   workload's ``PASS_S``), each running every op of the workload once,
   its queries in an order drawn from ``--seed``.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the timed passes
alternate between traced and untraced, and the metrics are the
per-layer ones plus the tracing overhead. perfbench/README.md lists the
workloads and metrics.

Usage, from the repository root:

    python3 perfbench/run.py --workload corpus_sf001 --seed 1 \
        --seconds 14 --trace 0
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

# run as a script, so this directory is on sys.path
from procmem import PeakRss, descendants, wait_gone
from tracing import OpCounter, StatusApi, Tracer
from workloads import Check, make_workload


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    try:
        with open("/proc/self/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return max(0.0, uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


PROCESS_T0 = time.perf_counter() - _process_age_s()

BENCH_DIR = Path(__file__).resolve().parent
REPO_ROOT = BENCH_DIR.parent
DATA_DIR = BENCH_DIR / "data" / "sf0.01"
PACKAGE = "erathia_market_etl_spark"

# Seconds of --seconds that one timed pass stands for. A run makes
# round(--seconds / PASS_S) timed passes, at least one, so every run of
# a workload has the same number of ops and the tail is the same order
# statistic. The values keep one run within about a minute on a 4-core
# box, where set-up takes most of it.
PASS_S = {
    "corpus_sf001": 4.5,
    "medallion_write": 10.0,
}
TAIL_BEYOND = 10

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_wall_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(PASS_S))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least TAIL_BEYOND
    samples above it: (value, percentile, sample count). When no
    percentile has that many samples above it, the slowest op."""
    xs = sorted(latencies)
    k = len(xs) - TAIL_BEYOND if len(xs) > TAIL_BEYOND else len(xs)
    return xs[k - 1], 100.0 * k / len(xs), len(xs)


class Bench:
    def __init__(self, args):
        self.args = args
        self.cores = os.cpu_count() or 1
        self.run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        self.out_dir = REPO_ROOT / ".perfbench"
        self.work = self.out_dir / "work" / self.run_id
        self.spark = None
        self.mem = None

    # -- set-up ---------------------------------------------------------

    def _environment(self) -> None:
        """Keep every file the run writes inside the checkout, and put
        the package on the Python workers' path."""
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(tmp)
        tempfile.tempdir = str(tmp)
        # every JVM the launcher starts: no hsperfdata file in /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        path = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = str(REPO_ROOT) + (
            os.pathsep + path if path else "")
        sys.path.insert(0, str(REPO_ROOT))

    def start(self):
        self._environment()
        self.mem = PeakRss().start()

        from erathia_market_etl_spark.config import EngineConfig
        from erathia_market_etl_spark.session import get_spark

        cfg = EngineConfig(master=f"local[{self.cores}]")
        t = time.perf_counter()
        self.spark = get_spark(cfg, **{
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
        })
        self.session_span = (t, time.perf_counter())
        self.session_start_s = self.session_span[1] - t
        self.spark.sparkContext.setLogLevel("ERROR")

    # -- passes ---------------------------------------------------------

    def warm_up(self, workload, tracer) -> dict:
        """One untimed pass in workload order that checks each op's
        output."""
        checks = {}
        self.warm_up_s = {}
        workload.start_pass("warmup")
        try:
            for name in workload.ops:
                t = time.perf_counter()
                try:
                    checks[name] = workload.warm_up_op(self.spark, tracer,
                                                       name)
                except Exception as e:  # noqa: BLE001 - reported, run goes on
                    traceback.print_exc(file=sys.stderr)
                    checks[name] = Check(False, 0, f"{type(e).__name__}: {e}")
                self.warm_up_s[name] = time.perf_counter() - t
        finally:
            workload.end_pass()
        return checks

    def timed_pass(self, workload, tracer, order, pass_key, counter):
        ops = []
        t0 = time.perf_counter()
        workload.start_pass(pass_key)
        try:
            with tracer.span(f"pass.{pass_key}"):
                for name in order:
                    op_key = f"{pass_key}:{name}"
                    rec = {"name": name, "ok": True}
                    try:
                        with tracer.span(f"op.{name}"):
                            rec["result"] = workload.run_op(
                                self.spark, tracer, name, op_key)
                    except Exception:  # noqa: BLE001 - counted as failed
                        traceback.print_exc(file=sys.stderr)
                        rec["ok"] = False
                    if counter is not None:
                        rec["counts"] = counter.collect({
                            tracer.group(op_key, "construct"): "construct",
                            tracer.group(op_key, "exec"): "exec",
                        })
                    ops.append(rec)
        finally:
            wall = time.perf_counter() - t0
            workload.end_pass()
        return {"key": pass_key, "wall_s": wall, "ops": ops,
                "traced": counter is not None}

    # -- the run --------------------------------------------------------

    def run(self) -> dict:
        args = self.args
        self.start()
        sc = self.spark.sparkContext
        tracer_off = Tracer(sc, self.run_id, enabled=False)
        counter = None
        if args.trace:
            counter = OpCounter(StatusApi(sc.uiWebUrl, sc.applicationId))
        workload = make_workload(args.workload, str(DATA_DIR),
                                 str(self.work / "passes"), args.seed)
        checks = self.warm_up(workload, tracer_off)
        setup_s = time.perf_counter() - PROCESS_T0
        warm_up_counts = counter.collect({})["exec"] if counter else None

        passes = max(1, round(args.seconds / PASS_S[args.workload]))
        traced_flags = [False] * passes
        tracer = tracer_off
        if args.trace:
            tracer = Tracer(sc, self.run_id, enabled=True)
            tracer.record("session.get_spark", *self.session_span)
            passes = max(2, passes)
            traced_flags = [i % 2 == 0 for i in range(passes)]

        rng = random.Random(args.seed)
        records = []
        for i, traced in enumerate(traced_flags):
            records.append(self.timed_pass(
                workload, tracer if traced else tracer_off,
                workload.order(rng),
                f"p{i}", counter if traced else None))

        if args.trace:
            spans = self.out_dir / "spans"
            spans.mkdir(parents=True, exist_ok=True)
            tracer.write(spans / f"{self.run_id}.jsonl")
        return {"setup_s": setup_s, "checks": checks, "passes": records,
                "warm_up_counts": warm_up_counts}

    def close(self) -> int:
        """Stop Spark and every process it started; return the peak
        memory of the process tree in bytes."""
        if self.mem is not None:
            self.mem.sample()
        if self.spark is not None:
            from pyspark import SparkContext

            children = descendants(os.getpid())
            self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                SparkContext._gateway = None
                SparkContext._jvm = None
            wait_gone(children, 20)
        peak = self.mem.stop() if self.mem is not None else 0
        shutil.rmtree(self.work, ignore_errors=True)
        return peak


# -- metrics ---------------------------------------------------------------


def summarize(run: dict, peak_rss: int) -> dict:
    checks = run["checks"]
    timed = [p for p in run["passes"] if not p["traced"]]
    ops = [op for p in run["passes"] for op in p["ops"]]
    failed = sum(1 for op in ops
                 if not op["ok"] or not checks[op["name"]].ok)
    lat = [op["result"].latency_s for p in timed for op in p["ops"]
           if op["ok"]]
    out = {
        "attempted": len(ops),
        "failed": failed,
        "correct": failed == 0 and all(c.ok for c in checks.values()),
        "failed_ops_ratio": failed / max(1, len(ops)),
        "setup_s": run["setup_s"],
        "pass_wall_s": statistics.median(p["wall_s"] for p in timed),
        "peak_rss_mb": peak_rss / 1e6,
    }
    # with every op failed there is no latency to report
    out["op_p50_s"] = statistics.median(lat) if lat else 0.0
    out["op_tail_s"], out["tail_pct"], out["tail_n"] = (
        tail(lat) if lat else (0.0, 0.0, 0))
    return out


def per_layer(run: dict, bench: Bench,
              peak_rss: int) -> dict[str, tuple[float, str]]:
    """Per-layer metrics: the median over traced passes of each pass's
    totals, plus set-up figures, peak memory and the tracing overhead."""
    checks = run["checks"]
    traced = [p for p in run["passes"] if p["traced"]]
    untraced = [p for p in run["passes"] if not p["traced"]]
    rows = []
    for p in traced:
        rows.append(_pass_layers(p, checks, bench.cores))
    med = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    med["session.start_s"] = bench.session_start_s
    # Python workers start once, in the warm-up pass, and are reused
    med["udf.worker_start_s"] = run["warm_up_counts"]["udf.python_start_s"]
    med["peak_rss_mb"] = peak_rss / 1e6
    med["trace.overhead_s"] = (
        statistics.median(p["wall_s"] for p in traced)
        - statistics.median(p["wall_s"] for p in untraced))
    return {k: (v, PER_LAYER_UNITS[k]) for k, v in med.items()}


PER_LAYER_UNITS = {
    "session.start_s": "s",
    "udf.worker_start_s": "s",
    "plans.construct_s": "s",
    "plans.construct_jobs": "count",
    "plans.construct_share": "ratio",
    "sources.input_bytes": "B",
    "sources.input_records": "count",
    "sources.records_per_result_row": "ratio",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.stages_skipped": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.slot_busy_share": "ratio",
    "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_fetch_wait_s": "s",
    "exec.spill_bytes": "B",
    "exec.failed_tasks": "count",
    "udf.python_run_s": "s",
    "udf.python_init_s": "s",
    "udf.bytes_to_python": "B",
    "udf.bytes_from_python": "B",
    "generator.bronze_s": "s",
    "generator.fact_rows_per_s": "rows/s",
    "pipeline.silver_s": "s",
    "pipeline.gold_s": "s",
    "pipeline.write_jobs": "count",
    "pipeline.output_bytes": "B",
    "pipeline.rows_rejected_ratio": "ratio",
    "streaming.maintenance_s": "s",
    "streaming.state_rows": "count",
    "peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}

_EXEC_COUNTS = ["jobs", "stages", "stages_skipped", "tasks", "task_run_s",
                "task_cpu_s", "gc_s", "shuffle_write_bytes",
                "shuffle_read_bytes", "shuffle_fetch_wait_s", "spill_bytes",
                "failed_tasks"]
_UDF = ["udf.python_run_s", "udf.python_init_s", "udf.bytes_to_python",
        "udf.bytes_from_python"]


def _pass_layers(p: dict, checks: dict, cores: int) -> dict[str, float]:
    m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    by_step: dict[str, float] = {}
    result_rows = 0
    bronze_rows = silver_rows = 0
    for op in p["ops"]:
        if not op["ok"]:
            continue
        r, cnt = op["result"], op["counts"]
        con, ex = cnt["construct"], cnt["exec"]
        by_step[op["name"]] = by_step.get(op["name"], 0.0) + r.latency_s
        m["plans.construct_s"] += r.construct_s
        m["plans.construct_jobs"] += con["jobs"]
        m["exec.s"] += r.exec_s
        for phase in (con, ex):
            m["sources.input_bytes"] += phase["input_bytes"]
            m["sources.input_records"] += phase["input_records"]
            for k in _UDF:
                m[k] += phase[k]
        for k in _EXEC_COUNTS:
            m["exec." + k] += ex[k]
        if op["name"] in ("run_silver", "run_gold"):
            m["pipeline.write_jobs"] += ex["jobs"]
            m["pipeline.output_bytes"] += ex["output_bytes"]
        if op["name"] == "generate_bronze":
            bronze_rows = r.facts["fact_rows"]
        if op["name"] == "run_silver":
            silver_rows = r.facts["fact_rows"]
        if op["name"] == "streaming_rollup":
            m["streaming.state_rows"] = r.facts["state_rows"]
        # a query's result rows come from its check; a step's are the
        # rows it wrote
        result_rows += checks[op["name"]].rows or ex["output_records"]
    total = m["plans.construct_s"] + m["exec.s"]
    m["plans.construct_share"] = m["plans.construct_s"] / total if total else 0
    m["sources.records_per_result_row"] = (
        m["sources.input_records"] / max(1, result_rows))
    m["exec.slot_busy_share"] = (
        m["exec.task_run_s"] / (m["exec.s"] * cores) if m["exec.s"] else 0)
    m["generator.bronze_s"] = by_step.get("generate_bronze", 0.0)
    if m["generator.bronze_s"]:
        m["generator.fact_rows_per_s"] = bronze_rows / m["generator.bronze_s"]
    m["pipeline.silver_s"] = by_step.get("run_silver", 0.0)
    m["pipeline.gold_s"] = by_step.get("run_gold", 0.0)
    if bronze_rows:
        m["pipeline.rows_rejected_ratio"] = 1 - silver_rows / bronze_rows
    m["streaming.maintenance_s"] = by_step.get("streaming_rollup", 0.0)
    for k in ("session.start_s", "udf.worker_start_s", "peak_rss_mb",
              "trace.overhead_s"):
        del m[k]
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (REPO_ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE!r} not found in {REPO_ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    bench = Bench(args)
    try:
        run = bench.run()
    finally:
        peak = bench.close()

    s = summarize(run, peak)
    print(f"session start: {bench.session_start_s:.3f} s")
    for name, c in run["checks"].items():
        print(f"warm-up and check {name}: {bench.warm_up_s[name]:.3f} s, "
              f"{'ok' if c.ok else 'FAILED ' + c.detail}")
    for p in run["passes"]:
        print(f"pass {p['key']}{' traced' if p['traced'] else ''}: "
              f"{p['wall_s']:.3f} s")
        for op in p["ops"]:
            r = op.get("result")
            print(f"  {op['name']}: " + (
                f"{r.construct_s:.3f} s construct + {r.exec_s:.3f} s execute"
                if op["ok"] else "FAILED"))
    print(f"set-up: {run['setup_s']:.3f} s")
    for name, pss in sorted(bench.mem.peak_by_name.items()):
        if pss:
            print(f"at peak memory, {name} processes: {pss / 1e6:.1f} MB")
    # printed in both modes; a JSON metric only of the traced run, since
    # the JVM's heap sizing makes it vary too much between runs to gate on
    print(f"{args.workload} peak_rss_mb = {s['peak_rss_mb']:.6g} MB")
    if args.trace:
        layers = per_layer(run, bench, peak)
        for k, (v, unit) in layers.items():
            print(f"{args.workload} {k} = {v:.6g} {unit}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        print(f"{args.workload} failed_ops_ratio = {s['failed_ops_ratio']:.6g}"
              f" ratio ({s['failed']} of {s['attempted']} ops)")
        print(f"{args.workload} op_tail_s is p{s['tail_pct']:.1f}"
              f" of {s['tail_n']} ops")
        metrics = {}
        for k, unit in END_TO_END_UNITS.items():
            v = s[k]
            print(f"{args.workload} {k} = {v:.6g} {unit}")
            metrics[k] = {"value": v, "unit": unit}
    print(json.dumps({"correct": s["correct"], "attempted": s["attempted"],
                      "failed": s["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

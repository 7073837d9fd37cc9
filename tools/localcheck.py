"""Per-round driver-style compare over the queries the driver does not
slot this round.

The driver's CORRECTNESS gate stamps the driver-tier queries it slots;
the local tier of the registry (``plans.local_queries()``) re-verifies
only through pytest. This tool runs the driver's EXACT compare (same
``compare_query`` → toPandas vs duckdb .df(), same rows/schema/
order-insensitive-value-hash checks) over the local tier at sf0.01 —
the driver's t2 scale, one decade above the pytest smoke SF — and
writes ``LOCALCHECK_r{N}.json`` next to the CORRECTNESS artifacts, row
format identical. It also sweeps the DISPLACED half of the driver
rotation (priority slots 51+), so no driver-tier query's evidence can
silently age past the 2-round window when re-attestations crowd the
driver cap. Rows are tagged ``local`` or ``displaced``.

Usage: python tools/localcheck.py [round] [sf_dir] [--full]
  round  defaults to (max committed CORRECTNESS round) + 1
  sf_dir defaults to /root/testdata/sf0.01
  --full additionally sweeps the driver-slotted top-50 queries (tag
         "registered"), making the artifact cover the ENTIRE registry —
         used for the synthetic-sf1 exactness sweep, where the slotted
         queries have no driver artifact of their own at that SF.
"""

from __future__ import annotations

import json
import os
import re
import sys
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from erathia_market_etl_spark.config import EngineConfig
from erathia_market_etl_spark.session import get_spark
from erathia_market_etl_spark.testing import compare_query


DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def artifact_suffix(sf_dir: str) -> str:
    """'' for the default sf dir, '_<basename>' otherwise. realpath
    first (r14 ADVICE): a relative/symlinked spelling of the default
    dir must still land in the canonical artifact name."""
    if os.path.realpath(sf_dir) == os.path.realpath(DEFAULT_SF_DIR):
        return ""
    return "_" + os.path.basename(os.path.realpath(sf_dir)).replace(".", "")


def _current_round(root: Path) -> int:
    rounds = [
        int(m.group(1))
        for p in root.glob("CORRECTNESS_r*.json")
        if (m := re.search(r"r(\d+)", p.name))
    ]
    return max(rounds, default=0) + 1


def main() -> None:
    root = Path(__file__).resolve().parents[1]
    args = [a for a in sys.argv[1:] if a != "--full"]
    full = "--full" in sys.argv[1:]
    rnd = int(args[0]) if len(args) > 0 else _current_round(root)
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.01"

    from erathia_market_etl_spark.plans import (
        all_oracles,
        all_queries,
        local_queries,
    )

    targets: dict[str, tuple] = {
        name: (fn, oracle, "local")
        for name, (fn, oracle) in local_queries().items()
    }
    # also sweep every driver-tier query that falls outside the driver's
    # 50-slot cap this round — the displaced half of the rotation — so
    # every driver-tier query gets driver-style evidence every round: a
    # CORRECTNESS row when slotted, a LOCALCHECK row when not
    queries = all_queries()  # priority order == driver slot order
    oracles = all_oracles()
    for name in list(queries)[50:]:
        targets[name] = (queries[name], oracles[name], "displaced")

    # --full: the driver-slotted top 50 too — at a non-default SF those
    # queries have no driver artifact, so a full-registry exactness
    # sweep must run them itself
    if full:
        for name in list(queries)[:50]:
            targets[name] = (queries[name], oracles[name], "registered")

    spark = get_spark(EngineConfig(app_name="erathia-localcheck"))
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, dict] = {}
    for name in sorted(targets):
        fn, oracle, tag = targets[name]
        try:
            r = compare_query(name, fn(spark, sf_dir), oracle, sf_dir)
            out[name] = {
                "rows_match": r.spark_rows == r.oracle_rows,
                "schema_match": r.columns_match,
                "hash_match": r.hash_match,
                "spark_rows": r.spark_rows,
                "oracle_rows": r.oracle_rows,
                "err": None,
                "set": tag,
            }
        except Exception as e:  # noqa: BLE001 - record, keep sweeping
            out[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": -1,
                "oracle_rows": -1,
                "err": f"{type(e).__name__}: {e}",
                "set": tag,
            }
        status = "OK" if out[name]["hash_match"] else "FAIL"
        print(f"  {name} [{tag}]: {status}", file=sys.stderr)

    green = sum(1 for v in out.values() if v["hash_match"])
    # self-describing artifact: record which SF produced these rows
    # (r9 added an sf0.1 twin next to the per-round sf0.01 artifact)
    out["_meta"] = {"round": rnd, "sf_dir": sf_dir,
                    "green": green, "total": len(out)}
    # any non-default sf_dir gets its own artifact name — before r13 the
    # sf0.1 twin silently OVERWROTE the sf0.01 artifact, and the r13 fix
    # special-cased only the literal "sf0.1" (r13 ADVICE: a .scalecheck/
    # sf1 run would have overwritten the canonical artifact the same
    # way); derive the suffix from the basename whenever it differs
    path = root / f"LOCALCHECK_r{rnd:02d}{artifact_suffix(sf_dir)}.json"
    path.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(json.dumps({"round": rnd, "sf_dir": sf_dir, "green": green,
                      "total": len(out) - 1, "artifact": str(path)}))
    spark.stop()


if __name__ == "__main__":
    main()

"""The query registry.

Every operator from SURVEY.md §2 registers here as a named query: a
PySpark callable ``(spark, sf_dir) -> DataFrame`` plus a DuckDB-runnable
ANSI-SQL oracle over the same parquet tables. Each query belongs to one
tier:

  * ``driver`` (the default): exposed verbatim by ``__spark_entry__.py``
    through ``all_queries()`` / ``all_oracles()``;
  * ``local``: run only by the local oracle compare
    (tests/test_oracle_parity.py, tools/localcheck.py) through
    ``local_queries()``.

Contract (see repo README / driver docs):
  * column names must match between Spark result and oracle result —
    every computed column is aliased identically on both sides;
  * money/double aggregates are rounded to 2dp on both sides before
    comparison (float summation-order noise, SURVEY.md §7.4);
  * any ORDER BY ... LIMIT has a deterministic total order (tiebreaks).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
_T = TypeVar("_T")

# driver tier
QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# local tier: name -> (query, oracle)
LOCAL: dict[str, tuple[QueryFn, str]] = {}


def query(
    name: str, oracle: str, tier: str = "driver"
) -> Callable[[QueryFn], QueryFn]:
    """Register a named query with its DuckDB SQL twin ``oracle`` in
    ``tier`` (``"driver"`` or ``"local"``). A name is unique across
    both tiers."""
    if tier not in ("driver", "local"):
        raise ValueError(f"unknown query tier: {tier}")

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES or name in LOCAL:
            raise ValueError(f"duplicate query name: {name}")
        if tier == "driver":
            QUERIES[name] = fn
            ORACLES[name] = oracle
        else:
            LOCAL[name] = (fn, oracle)
        return fn

    return deco


def _load_all() -> None:
    # import for side effect: each module registers its queries
    from . import (  # noqa: F401
        dedup_queries,
        event_windows,
        graph_queries,
        multimodal_queries,
        profile_queries,
        relational,
        sampling_queries,
        similarity_queries,
        sketch_queries,
        skew_queries,
        streaming_queries,
        temporal_queries,
        text_queries,
    )


# The driver's per-round correctness pass is budget-capped (50 queries
# per round), so registration order is evidence allocation.
#
# ROTATION POLICY (standing): front-load, in order,
#   (a) every query whose implementation OR oracle changed since its most
#       recent green CORRECTNESS row (_CHANGED — the one hand-maintained
#       input, updated with the commits that change query semantics);
#   (b) queries whose newest green row is oldest, oldest first (the cap
#       makes greens rotate out; evidence must not age past 2 rounds);
#   (c) queries with no green row in any CORRECTNESS file yet — AFTER
#       the aged greens: a never-checked registration has no evidence to
#       go stale, while an aged green losing its slot breaks the 2-round
#       freshness policy (r5: registering new queries must not push
#       existing evidence past the window);
#   (d) flagship canaries, then the remaining fresh greens.
# (b)-(d) are DERIVED from the committed CORRECTNESS_r*.json files at
# import time (r3 VERDICT item 2: bookkeeping is computed, not prose —
# a hand-written priority list went stale and burned driver slots).
#
# Since r11, tools/localcheck.py sweeps the DISPLACED half of this
# priority order (slots 51+) with the driver's exact compare at both
# sf0.01 and sf0.1 (r10 VERDICT item 1). Evidence freshness is
# therefore the newest of (CORRECTNESS green row, displaced-sweep
# LOCALCHECK green row): every registered query gets driver-style
# evidence EVERY round, and a value-preserving refactor of a
# displaced query is re-attested by the same round's LOCALCHECK
# without burning a _CHANGED slot. Semantics/oracle CHANGES still get
# _CHANGED entries — a true behavior change must re-earn its
# CORRECTNESS row, not just a local one.

# name -> round in which its IMPLEMENTATION (plan shape / kernel) or
# oracle changed. An entry is SELF-EXPIRING: it is prioritized only
# while the newest green row predates the change, so once the driver
# re-greens it the entry stops consuming slots (no manual pruning to
# forget — the r3 failure mode). POLICY (tightened per r5 ADVICE):
# implementation REWRITES get entries even when value-preserving —
# local unit tests are not the cross-engine evidence the green rows
# attest, so a green row must never predate the code it vouches for.
# Only trivial touches (comment/docstring edits, alias-free renames)
# skip re-attestation. When the slot budget can't absorb every rewrite,
# rewrites outrank new registrations (an aged attestation is worse than
# a missing one). Clarified r8: a guard added to a branch that is
# MACHINE-VERIFIED unreached by every registered query's fixture
# execution also skips — the attested execution is byte-identical, and
# the unreached-ness must itself be pinned (precedent: the
# empty-contraction short-circuit sits in connected_components_auto's
# escalation branch, which the fixture dedup graphs never enter: they
# take the local path, tests/test_graph.py::
# test_fixture_lsh_graph_routes_local, and on the distributed path
# finish in min-label, test_fixture_lsh_graph_routes_minlabel).
_CHANGED: dict[str, int] = {
    "sample_stratified_by": 4,   # sampleBy rand() -> deterministic hash bucket + oracle
    "agg_freq_items": 4,         # exact frequent items + in_sketch contract + oracle
    "agg_approx_sketches": 4,    # exact column + in-query error-bound flags + oracle
    "media_frame_sample": 4,     # SQL-expressible frame fingerprint + oracle
    "sim_similar_pairs": 4,      # new — non-vacuous banded-LSH evidence twin
    "sim_band_recall": 4,        # new — oracled recall@k contract for band-LSH
    # (delete a query's entry when its @query registration is deleted)
    "text_length_trim": 5,  # distributed rank decomposition (r4 VERDICT #1)
    "pack_token_budget_shards": 5,  # hierarchical running sum (r4 VERDICT #2)
    "media_feature_extract": 5,  # oracle hardened: LEFT JOIN + COALESCE (r4 ADVICE)
    # r5 implementation rewrites whose newest green rows were r4 —
    # re-attested per the tightened policy above (r5 ADVICE, medium):
    "text_winnowing_fingerprints": 6,  # r5: narrow rewrite; r6: vectorized poly hash
    "text_fingerprint": 5,             # shingle pipeline reshape (fan_out, project-once)
    "dedup_ngram_jaccard": 5,          # int64 shingle hashing before verify join
    "decon_test_train_overlap": 6,     # r5/r6: consumes the rewritten winnowing
    "dedup_corpus_representatives": 7,  # r6: star kernel; r7: auto kernel selection
    "sim_topk_vectorized": 5,          # NULL/zero-norm scoring change
    # r6 star kernel; r7: kernel-selecting auto (min-label finish on
    # dense graphs after the shared small-star prepass)
    "dedup_cluster_components": 7,
    "text_token_frequencies": 6,  # fan_out rebalance before the explode
    # r6: state_partitions=8 scoped override for bounded stateful runs
    "stream_stream_interval_join": 6,
    "stream_tumbling_hourly": 6,
    "stream_session_stats": 6,
    "stream_user_running_totals": 6,
    "stream_dedup_keys": 6,
    # r10 (VERDICT r9 item 1): dropped the forced F.broadcast hints on
    # the SF-scaling customer/part/supplier tables — the threshold/AQE
    # now picks the strategy (still broadcast at fixture SFs, shuffle at
    # 100 TB); only region/nation keep hints. Values unchanged, but the
    # green rows must re-attest the hint-free plans. q1-q3 are r9-fresh
    # (3 ≤ the 4-per-round displacement cap); q4/q5 are r8-aged and run
    # this round regardless.
    "q1_net_revenue_by_nation": 10,
    "q2_monthly_price_history": 10,
    "q3_top_customers": 10,
    "q4_part_popularity": 10,
    "q5_regional_local_supplier_volume": 10,
    # r13 (VERDICT r12 item 4): contract oracles tightened — measured
    # integers (distortion_ppm / recall_hits / balance_ppm / n_cells)
    # now hash-pinned per fixture behind a corpus fingerprint; both
    # schemas and oracles changed, so the green rows must re-attest.
    "sim_pq_quality": 13,
    "sim_ivf_cell_quality": 13,
    # connected components of at most BOUND edges are labelled on the
    # driver (operators/graph.py local path). Of the three driver-tier
    # consumers only the funnel holds a front slot; the displaced
    # dedup_cluster_components and dedup_corpus_representatives are
    # re-attested by this round's LOCALCHECK (value-preserving).
    "pipeline_training_funnel": 18,
}

_CANARIES: list[str] = [
    "q1_net_revenue_by_nation",
    "q2_monthly_price_history",
    "q3_top_customers",
    "dedup_exact_hash",
]


def _last_green_rounds() -> dict[str, int]:
    """name -> newest round with a full green row (rows+schema+hash),
    scanned from the committed CORRECTNESS_r*.json files."""
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[2]
    out: dict[str, int] = {}
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                out[name] = max(out.get(name, 0), rnd)
    return out


def _priority(names: list[str], green: dict[str, int] | None = None) -> list[str]:
    if green is None:
        green = _last_green_rounds()
    newest = max(green.values(), default=0)
    changed = [
        n for n, rnd in _CHANGED.items()
        if n in names and green.get(n, -1) < rnd
    ]
    rest = [n for n in names if n not in changed]
    never = [n for n in rest if n not in green]
    aged = sorted(
        (n for n in rest if n in green and green[n] < newest),
        key=lambda n: (green[n], n),
    )
    canaries = [n for n in _CANARIES if n in rest and green.get(n) == newest]
    fresh = sorted(
        n for n in rest if green.get(n) == newest and n not in canaries
    )
    return changed + aged + never + canaries + fresh


def _ordered(d: dict[str, _T]) -> dict[str, _T]:
    out = {n: d[n] for n in _priority(list(d)) if n in d}
    out.update({n: v for n, v in d.items() if n not in out})
    return out


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return _ordered(QUERIES)


def all_oracles() -> dict[str, str]:
    _load_all()
    return _ordered(ORACLES)


def local_queries() -> dict[str, tuple[QueryFn, str]]:
    """The local tier: name -> (query, oracle), sorted by name."""
    _load_all()
    return dict(sorted(LOCAL.items()))

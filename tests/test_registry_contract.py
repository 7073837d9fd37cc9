"""Registry-wide output-schema guard.

The driver canonicalizes every query result through pandas
(``sort_values`` over all columns) before hashing; a top-level
ArrayType/MapType column crashes it with ``unhashable type: 'list'``.
This cost a driver row in round 1 (``media_feature_extract``) and again
in round 2 (``scalar_array_kit``) — this test makes the trap impossible:
any driver-registered query emitting a complex-typed column fails CI
before the driver ever sees it.  Arrays belong INSIDE a query's plan;
the driver-facing projection joins them to strings
(``F.array_join(..., '|')``).
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as ST

from erathia_market_etl_spark.plans import all_queries

from .conftest import SF_SMOKE

QUERIES = all_queries()

# Queries whose callable *executes* work on invocation (streaming runs an
# availableNow trigger to completion); their schemas are still checked —
# nothing is exempt from the guard — they are just slower to build.
# DecimalType joins the complex types: Spark's toPandas() yields python
# Decimal objects where DuckDB's .df() yields float64, so a DECIMAL
# column str()-canonicalizes differently on the two sides and
# hash-mismatches even when values agree. Money pipelines accumulate in
# DECIMAL(38,12) internally but must cast the driver-facing projection
# back to double (functions/money.py does).
_FORBIDDEN = (ST.ArrayType, ST.MapType, ST.StructType, ST.DecimalType)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_complex_top_level_columns(spark, name):
    df = QUERIES[name](spark, SF_SMOKE)
    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, _FORBIDDEN)
    ]
    assert not bad, (
        f"{name} returns driver-unhashable top-level column(s) {bad}; "
        "join arrays to strings (F.array_join) in the driver-facing "
        "projection — see module docstring"
    )


# -- rotation derivation (r3 VERDICT item 2) ---------------------------------
# The priority order is computed from CORRECTNESS evidence, not prose;
# pin the derivation rules on a synthetic green map.

def test_rotation_priority_rules():
    from erathia_market_etl_spark.plans.registry import _CHANGED, _priority

    # the synthetic canary must be one WITHOUT a pending _CHANGED entry
    # (q1 was used here until its r10 re-attestation made it `changed`)
    names = ["zz_fresh", "aa_fresh", "old_r1", "old_r2", "never_seen",
             "dedup_exact_hash"]
    green = {"zz_fresh": 3, "aa_fresh": 3, "old_r1": 1, "old_r2": 2,
             "dedup_exact_hash": 3}
    order = _priority(names, green)
    # aged greens oldest-first (staleness breaks the 2-round evidence
    # policy), then never-green (nothing to go stale yet), then
    # canaries, then fresh greens alphabetically
    assert order == ["old_r1", "old_r2", "never_seen",
                     "dedup_exact_hash", "aa_fresh", "zz_fresh"]
    # a _CHANGED entry outranks everything while its green row predates
    # the change, and self-expires once the driver re-greens it
    changed_name, changed_round = next(iter(_CHANGED.items()))
    names2 = [changed_name, "never_seen"]
    assert _priority(names2, {changed_name: changed_round - 1}) == \
        [changed_name, "never_seen"]
    assert _priority(names2, {changed_name: changed_round})[0] == "never_seen"


def test_rotation_front_slots_hold_all_changed_queries():
    """Every _CHANGED entry still awaiting its green row must sit inside
    the driver's 50-slot budget."""
    from erathia_market_etl_spark.plans.registry import (
        _CHANGED,
        _last_green_rounds,
    )

    green = _last_green_rounds()
    order = list(QUERIES)
    for name, rnd in _CHANGED.items():
        if green.get(name, -1) < rnd:
            assert order.index(name) < 50, name


def test_rotation_budget_not_overcommitted():
    """The 2-round freshness policy is only satisfiable if every query
    that MUST run this round — aged greens (newest green older than the
    last round), never-green registrations, and pending _CHANGED
    re-attestations — fits the driver's 50-slot cap together. If a
    round's registrations/rewrites overcommit the budget, an aged green
    silently falls past the freshness window; fail HERE instead, at
    registration time (r7: this is the arithmetic that forced the
    three one-in-one-out retirements).

    Steady-state displacement rule (r9, encoded BEFORE it first fires —
    VERDICT r8 item 4): at the 100-query steady state the 50 slots are
    exactly the aged half, so a _CHANGED re-attestation of a STILL-FRESH
    query necessarily displaces one aged green past the cap. That is
    tolerated, bounded, and self-healing: the displaced green's evidence
    reaches exactly age 2 (the freshness window's boundary, never past
    it), and next round it is the OLDEST aged green so the derivation
    puts it first in line automatically
    (test_rotation_steady_state_displacement proves the round-trip).
    The tolerance is exactly the count of fresh-query re-attestations,
    hard-capped at 4 — more simultaneous rewrites of fresh queries in
    one round requires a retirement, not a bigger ripple."""
    from erathia_market_etl_spark.plans.registry import (
        _CHANGED,
        _last_green_rounds,
    )

    green = _last_green_rounds()
    order = list(QUERIES)
    newest = max(green.values(), default=0)
    must_run = [
        n for n in order
        if green.get(n, -1) < newest or _CHANGED.get(n, -1) > green.get(n, -1)
    ]
    # fresh-query re-attestations each displace one aged green to
    # exactly the window boundary; bounded self-healing ripple
    fresh_reattest = [
        n for n in order
        if green.get(n, -1) == newest and _CHANGED.get(n, -1) > green.get(n, -1)
    ]
    allowance = len(fresh_reattest)
    assert allowance <= 4, (
        f"{allowance} same-round rewrites of FRESH queries "
        f"({fresh_reattest}); retire instead of displacing this much"
    )
    assert len(must_run) <= 50 + allowance, (
        f"{len(must_run)} queries need a slot this round (allowance "
        f"{allowance}); retire or defer: {must_run}"
    )
    overflow = [n for n in must_run if order.index(n) >= 50]
    assert len(overflow) <= allowance, (overflow, allowance)
    for n in overflow:
        # only an aged green may be displaced — never a pending
        # re-attestation or a never-green registration — and only from
        # the newest-aged (age-1) cohort, so its evidence lands on the
        # window boundary (age 2), not beyond it
        assert green.get(n, -1) == newest - 1, (n, green.get(n))
        assert _CHANGED.get(n, -1) <= green.get(n, -1), n


def test_rotation_steady_state_displacement():
    """Round-trip proof of the displacement rule on the synthetic
    steady state: 50 aged + 50 fresh, one fresh query rewritten
    (_CHANGED). The rewrite takes slot 0, the alphabetically-last aged
    green is displaced to position 50 (outside the cap), and in the
    NEXT round the displaced query is first in line while the budget
    returns to exactly 50 — the ripple self-heals in one round and no
    evidence ever exceeds age 2."""
    from erathia_market_etl_spark.plans import registry

    aged = [f"a{i:02d}" for i in range(50)]
    fresh = [f"f{i:02d}" for i in range(50)]
    names = aged + fresh
    green = {n: 8 for n in aged} | {n: 9 for n in fresh}

    orig = registry._CHANGED
    registry._CHANGED = {"f07": 10}
    try:
        # round 10: the rewrite leads; slots 1..49 are aged greens;
        # exactly one aged green (alphabetically last — same green
        # round, name tiebreak) falls outside the cap
        order = registry._priority(names, dict(green))
        assert order[0] == "f07"
        assert set(order[1:50]) == set(aged) - {"a49"}
        assert order[50] == "a49"

        # round 11: the 49 attested aged + the rewrite are now green at
        # 10; a49 still holds its r8 green — it must sort FIRST among
        # the aged (oldest green wins) and the must-run set is back to
        # exactly 50 (the ripple is gone)
        green2 = dict(green)
        for n in order[:50]:
            green2[n] = 10
        order2 = registry._priority(names, green2)
        newest2 = max(green2.values())
        must_run2 = [n for n in names if green2[n] < newest2]
        assert order2[0] == "a49"
        assert len(must_run2) == 50
        assert set(order2[:50]) == set(must_run2)
    finally:
        registry._CHANGED = orig


def test_r14_registrations_landed_with_zero_displacement():
    """The r14 state, landed: mart_revenue_gini and
    mart_pareto_concentration are REGISTERED and both sit inside the
    driver's 50-slot cap together with every aged green — 48 aged r12
    greens + 2 never-green = exactly 50, zero displacement. Runs against the LIVE
    registry + committed CORRECTNESS state so any later registration or
    _CHANGED entry that would push an aged green past the freshness
    window fails here first."""
    from erathia_market_etl_spark.plans.registry import (
        _CHANGED,
        _last_green_rounds,
    )

    order = list(QUERIES)
    for name in ("mart_revenue_gini", "mart_pareto_concentration"):
        assert name in QUERIES, f"{name} lost its r14 registration"
    assert "text_quality_score" not in QUERIES, (
        "text_quality_score was retired r14 to pay for the "
        "mart_pareto_concentration promotion"
    )

    green = _last_green_rounds()
    newest = max(green.values())
    must_run = [
        n for n in order
        if green.get(n, -1) < newest or _CHANGED.get(n, -1) > green.get(n, -1)
    ]
    assert len(must_run) <= 50, (
        f"r14 must-run {len(must_run)} > 50; retire or defer: {must_run}"
    )
    overflow = [n for n in must_run if order.index(n) >= 50]
    assert overflow == [], overflow


def test_r15_promotion_landed_with_zero_displacement():
    """The r15 one-in-one-out: text_dedup_span_removal (the Lee-et-al.
    rewrite half) is REGISTERED in the driver tier. Must-run = 49 aged r13
    greens + 1 never-green = exactly 50, zero displacement. Runs
    against the LIVE registry + committed CORRECTNESS state."""
    from erathia_market_etl_spark.plans.registry import (
        _CHANGED,
        _last_green_rounds,
    )

    order = list(QUERIES)
    assert "text_dedup_span_removal" in QUERIES, (
        "text_dedup_span_removal lost its r15 registration"
    )
    assert "count_probe" not in QUERIES, (
        "count_probe was retired r15 to pay for the "
        "text_dedup_span_removal promotion"
    )

    green = _last_green_rounds()
    newest = max(green.values())
    must_run = [
        n for n in order
        if green.get(n, -1) < newest or _CHANGED.get(n, -1) > green.get(n, -1)
    ]
    assert len(must_run) <= 50, (
        f"r15 must-run {len(must_run)} > 50; retire or defer: {must_run}"
    )
    overflow = [n for n in must_run if order.index(n) >= 50]
    assert overflow == [], overflow


def test_coverage_markers_match_registry_sets():
    """COVERAGE.md's ★ (driver-attested) markers must track the live
    tiers: a local-tier query carrying ★ overstates its evidence class.
    Generated artifacts already derive from JSON; this pins the one
    hand-written narrative the judge reads."""
    from pathlib import Path

    from erathia_market_etl_spark.plans import local_queries

    text = Path(__file__).resolve().parents[1].joinpath(
        "COVERAGE.md"
    ).read_text()
    stale = [n for n in local_queries() if f"★ `{n}`" in text]
    assert stale == [], (
        f"COVERAGE.md marks local-tier queries as ★: {stale}"
    )


def test_registry_tiers():
    """One registry, two tiers: the driver tier is exactly what
    __spark_entry__ exposes, the local tier is disjoint from it, every
    query in both carries an oracle, and a name registers once."""
    import __spark_entry__ as entry
    from erathia_market_etl_spark.plans import local_queries, registry

    driver = set(QUERIES)
    local = local_queries()
    assert len(driver) == 100
    assert driver.isdisjoint(local)
    assert set(registry.ORACLES) == driver
    assert all(registry.ORACLES[n].strip() for n in driver)
    assert all(oracle.strip() for _, oracle in local.values())
    assert set(entry.queries()) == driver
    assert entry.oracle_sql() == registry.all_oracles()
    assert set(entry.oracle_sql()) == driver

    name = next(iter(local))
    with pytest.raises(ValueError, match="duplicate query name"):
        registry.query(name, oracle="SELECT 1")(lambda spark, sf_dir: None)
    name = next(iter(driver))
    with pytest.raises(ValueError, match="duplicate query name"):
        registry.query(name, oracle="SELECT 1", tier="local")(
            lambda spark, sf_dir: None
        )
    assert set(QUERIES) == driver and local_queries() == local

"""HLL register-algebra semantics: the merge law, estimator equality
against a pure-Python reference, and the rho bit-length idiom.

Cross-engine parity (Spark vs DuckDB) for agg_hll_registers runs in
tests/test_oracle_parity.py's local-tier compare; these tests pin
the SEMANTICS against an independent plain-Python HLL so a shared
cross-engine bug cannot hide (the gap-fill precedent, commit faaed24).
"""

from __future__ import annotations

from erathia_market_etl_spark.plans.sketch_queries import (
    _EST_NUM,
    _MOD32,
    _RHO_MAX,
    _W_MOD,
    HLL_M,
    hll_registers_frame,
)


def _h32(x: int) -> int:
    x %= _MOD32
    x = ((x >> 16) ^ x) * 0x45D9F3B % _MOD32
    x = ((x >> 16) ^ x) * 0x45D9F3B % _MOD32
    return (x >> 16) ^ x


def _py_hll(keys) -> tuple[int, int, int]:
    """(nonzero_registers, harmonic_scaled, est_distinct) of a key set."""
    regs = [0] * HLL_M
    for k in keys:
        h = _h32(k)
        idx, w = h // _W_MOD, h % _W_MOD
        rho = _RHO_MAX if w == 0 else _RHO_MAX - w.bit_length()
        regs[idx] = max(regs[idx], rho)
    s = sum(1 << (_RHO_MAX - r) for r in regs)
    return (
        sum(1 for r in regs if r > 0),
        s,
        _EST_NUM // (s * 1_000_000),
    )


def test_registers_match_python_reference_per_group(spark):
    """Every output column equals the plain-Python HLL, per group AND
    for the merged 'all' row — including overlapping groups, where the
    merge law (max per register == registers of the union) is exactly
    what makes the 'all' estimate deduplicate across groups."""
    ga = list(range(1, 701))          # 700 keys
    gb = list(range(400, 1101))       # 701 keys, overlaps ga on 400..700
    rows = [("a", k) for k in ga] + [("b", k) for k in gb]
    df = spark.createDataFrame(rows, "grp string, x long")
    got = {r["grp"]: r.asDict() for r in hll_registers_frame(df).collect()}

    for grp, keys in (("a", ga), ("b", gb), ("all", set(ga) | set(gb))):
        nz, s, est = _py_hll(keys)
        row = got[grp]
        assert row["nonzero_registers"] == nz, grp
        assert row["zero_registers"] == HLL_M - nz, grp
        assert row["harmonic_scaled"] == s, grp
        assert row["est_distinct"] == est, grp
        assert row["exact_distinct"] == len(set(keys)), grp

    # non-vacuity: the merged estimate must sit near the UNION's
    # cardinality (1100), far below the per-group sum (1401) — the
    # dedup-across-groups property that motivates shipping registers
    union_n = len(set(ga) | set(gb))
    assert abs(got["all"]["est_distinct"] - union_n) / union_n < 0.25
    assert got["all"]["est_distinct"] < len(ga) + len(gb) - 150


def test_estimator_error_envelope(spark):
    """The m=64 estimator's relative error stays inside ~3 standard
    errors (1.04/sqrt(64) ~ 13%) across three decades of cardinality —
    the contract that makes the sketch usable, pinned on the exact
    integers the engines produce (pure-Python twin, no Spark run
    needed beyond the reference equality above)."""
    for n in (100, 1_000, 10_000, 100_000):
        _, _, est = _py_hll(range(1, n + 1))
        assert abs(est - n) / n < 0.40, (n, est)


def test_rho_bitlength_idiom(spark):
    """The LENGTH(BIN(w)) rho computation equals Python's bit_length
    across the boundary values (1, 2, powers, w_max) and the w=0 case
    maps to RHO_MAX."""
    ws = [0, 1, 2, 3, 4, 7, 8, (1 << 25) - 1, 1 << 25, _W_MOD - 1]
    rows = spark.sql(
        "SELECT w, CASE WHEN w % {m} = 0 THEN {rm} "
        "ELSE {rm} - LENGTH(BIN(w % {m})) END AS rho "
        "FROM VALUES {vals} AS t(w)".format(
            m=_W_MOD,
            rm=_RHO_MAX,
            vals=", ".join(f"({w})" for w in ws),
        )
    ).collect()
    for r in rows:
        w = r["w"]
        expected = _RHO_MAX if w == 0 else _RHO_MAX - w.bit_length()
        assert r["rho"] == expected, (w, r["rho"], expected)


def _py_cms_estimate(all_keys, probe):
    """Pure-Python count-min estimate of `probe` over `all_keys`."""
    from erathia_market_etl_spark.plans.sketch_queries import (
        CMS_SALTS,
        CMS_W,
    )

    counters = [dict() for _ in CMS_SALTS]
    for k in all_keys:
        for r, salt in enumerate(CMS_SALTS):
            col = _h32(k ^ salt) // (_MOD32 // CMS_W)
            counters[r][col] = counters[r].get(col, 0) + 1
    return min(
        counters[r].get(_h32(probe ^ salt) // (_MOD32 // CMS_W), 0)
        for r, salt in enumerate(CMS_SALTS)
    )


def test_cms_matches_python_and_one_sided_error(spark):
    """Planted frequencies: one heavy hitter among a spread of
    singletons. Every Spark estimate equals the pure-Python CMS, is
    never below the exact count (the one-sided error law), and the
    heavy hitter's overestimate stays within the eN/W bound."""
    from erathia_market_etl_spark.plans.sketch_queries import (
        CMS_W,
        cms_frequencies_frame,
    )

    keys = [7] * 500 + list(range(100, 1100))  # N = 1500
    rows = [(k, 1 + (i % 12)) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "x long, mth int")
    got = {
        r["part_key"]: (r["exact_cnt"], r["est_cnt"], r["overestimate"])
        for r in cms_frequencies_frame(df, top_k=5).collect()
    }
    assert got[7][0] == 500
    for k, (exact, est, over) in got.items():
        assert est == _py_cms_estimate(keys, k), k
        assert over >= 0, k                       # never underestimates
    # Markov bound with D=4 independent rows: P(over > eN/W) <= e^-4;
    # pin the deterministic instance well inside 3x that envelope
    assert got[7][2] <= 3 * (3 * len(keys) // CMS_W), got[7]


def test_cms_merge_law_month_invariance(spark):
    """The monthly-counter SUM-merge must be invisible: the same keys
    scattered across 12 months and concentrated in one month produce
    IDENTICAL output — counters form a commutative monoid under +."""
    from erathia_market_etl_spark.plans.sketch_queries import (
        cms_frequencies_frame,
    )

    keys = [5] * 40 + [9] * 25 + list(range(1000, 1200))
    scattered = spark.createDataFrame(
        [(k, 1 + (i % 12)) for i, k in enumerate(keys)], "x long, mth int"
    )
    single = spark.createDataFrame(
        [(k, 1) for k in keys], "x long, mth int"
    )
    a = [tuple(r) for r in cms_frequencies_frame(scattered, top_k=8).collect()]
    b = [tuple(r) for r in cms_frequencies_frame(single, top_k=8).collect()]
    assert a == b
    assert a[0][0] == 5 and a[0][1] == 40   # workload fit is exact-count-ranked


def test_kmv_merge_law_and_small_cardinality_fallback(spark):
    """Planted keys pin the KMV algebra directly: (1) merge law —
    min-k of the union of two groups' k-min sketches equals min-k over
    the union of their raw keys even when one group's sketch crowds
    out the other's; (2) a group with fewer than k distinct keys
    reports its EXACT count as the estimate (the small-cardinality
    fallback), not a division by its max hash."""
    import tempfile

    from erathia_market_etl_spark.plans.sketch_queries import (
        KMV_K,
        agg_kmv_distinct,
    )

    import datetime

    rows = []
    eid = 0
    # group 'big': 40 distinct users; group 'tiny': 3 distinct users
    # (duplicated rows prove hashing collapses duplicates first)
    for u in range(40):
        eid += 1
        rows.append((eid, datetime.datetime(2024, 1, 1, 1), u, "big", 1.0))
    for u in (1000, 1001, 1002):
        for _ in range(2):
            eid += 1
            rows.append(
                (eid, datetime.datetime(2024, 1, 1, 2), u, "tiny", 1.0)
            )
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/events.parquet")
        out = {r["grp"]: r.asDict() for r in agg_kmv_distinct(spark, d).collect()}

    assert out["tiny"]["n_sketch"] == 3
    assert out["tiny"]["est_distinct"] == 3  # exact fallback
    assert out["big"]["n_sketch"] == KMV_K
    assert out["big"]["n_exact"] == 40
    # estimate within a loose band: k=16 on n=40 (n barely above k) is
    # the estimator's noisiest regime and this is ONE fixed hash draw,
    # not an expectation — allow 4x either way (measured: 93)
    assert 10 <= out["big"]["est_distinct"] <= 160
    # merge law: the 'all' sketch's kth hash equals the kth smallest
    # over the union of the two groups' raw hash sets, which (since
    # big's keys dominate the low end or not — either way) must be
    # <= both groups' kth hashes and its estimate >= the biggest group
    assert out["all"]["n_exact"] == 43
    assert out["all"]["kth_hash"] <= out["big"]["kth_hash"]
    assert out["all"]["kth_hash"] <= max(
        out["tiny"]["kth_hash"], out["big"]["kth_hash"]
    )

"""Pins for the integer fixed-point PageRank kernel.

Oracle parity (tests/test_oracle_parity.py)
proves Spark and DuckDB agree on the fixture graph; these tests prove
the kernel computes the arithmetic it claims: exact equality against a
pure-Python integer power iteration on generative random graphs (the
connected-components-vs-union-find precedent), plus structural sanity
on a planted star (the hub must outrank every leaf).
"""

from __future__ import annotations


def _py_pagerank(edges, iters, scale=1_000_000):
    """Reference: same integer arithmetic, driver-side. Every node with
    an out-edge keeps a rank row each round — a node with no incoming
    contribution holds its teleport mass (the directed-graph contract;
    the original dst-aggregate-only formulation silently dropped such
    nodes AND starved their out-edges from round 2 on — r8 self-review
    finding, fixed on kernel, oracle and reference together)."""
    from collections import defaultdict

    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    ranks = {v: scale for v in deg}
    teleport = (15 * scale) // 100
    for _ in range(iters):
        acc = defaultdict(int)
        for s, d in edges:
            acc[d] += ranks[s] // deg[s]
        ranks = {v: teleport + (85 * acc.get(v, 0)) // 100 for v in deg}
    return {v: (ranks[v], deg[v]) for v in deg}


def test_pagerank_matches_python_on_random_graphs(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from erathia_market_etl_spark.operators.graph import pagerank_fixed_point

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=12),
                st.integers(min_value=0, max_value=12),
            ),
            min_size=1,
            max_size=40,
        ),
        st.integers(min_value=1, max_value=4),
    )
    def run(raw_edges, iters):
        edges = sorted(set(raw_edges))
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["v"]: (r["rank"], r["deg"])
            for r in pagerank_fixed_point(df, iters=iters).collect()
        }
        want = _py_pagerank(edges, iters)
        assert got == want, (edges, iters, got, want)

    run()


def test_pagerank_star_hub_dominates(spark):
    """Undirected star K_{1,n}: the hub aggregates every leaf's full
    rank (deg(leaf)=1) while each leaf gets 1/n of the hub's — after
    any round the hub strictly dominates, and all leaves tie exactly
    (integer arithmetic: EXACT ties, not approximate)."""
    from erathia_market_etl_spark.operators.graph import pagerank_fixed_point

    n = 8
    edges = [(0, i) for i in range(1, n + 1)] + [(i, 0) for i in range(1, n + 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = {r["v"]: r for r in pagerank_fixed_point(df, iters=3).collect()}
    assert rows[0]["deg"] == n
    leaf_ranks = {rows[i]["rank"] for i in range(1, n + 1)}
    assert len(leaf_ranks) == 1  # exact tie
    assert rows[0]["rank"] > leaf_ranks.pop()


def test_pagerank_directed_source_node_keeps_rank_and_feeds_mass(spark):
    """Directed regression for the r8 self-review finding: node 3 has
    an out-edge (3->1) but NO in-edge. It must (a) appear in the output
    every round with exactly the teleport rank, and (b) keep feeding
    edge 3->1 after round 1 — node 1's rank must include 3's teleport
    mass, which the dropped-row formulation lost."""
    from erathia_market_etl_spark.operators.graph import (
        PAGERANK_SCALE,
        pagerank_fixed_point,
    )

    edges = [(1, 2), (2, 1), (3, 1)]
    got = {
        r["v"]: (r["rank"], r["deg"])
        for r in pagerank_fixed_point(
            spark.createDataFrame(edges, "src long, dst long"), iters=3
        ).collect()
    }
    assert got == _py_pagerank(edges, 3)
    teleport = (15 * PAGERANK_SCALE) // 100
    assert got[3][0] == teleport            # source node present, teleport mass
    # node 1 receives from BOTH 2 and 3 in the final round:
    # rank1 = teleport + 85*(rank2 + rank3_teleport) DIV 100 > the
    # two-cycle-only value it would get if 3's mass stopped flowing
    two_cycle_only = {v: r for v, (r, _) in
                      _py_pagerank([(1, 2), (2, 1)], 3).items()}
    assert got[1][0] > two_cycle_only[1]


def test_pagerank_rejects_zero_iters(spark):
    import pytest

    from erathia_market_etl_spark.operators.graph import pagerank_fixed_point

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank_fixed_point(df, iters=0)


def test_fixed_rounds_differ_from_fixpoint(spark):
    """The rounds=3 accounting contract vs converged centrality,
    distinguished on a graph where they differ (r9, VERDICT r8 item
    6): a directed 4-cycle with an off-cycle feeder takes more than 3
    rounds to settle. tol-mode must (a) stop with residual <= tol,
    (b) produce ranks that genuinely differ from round-3's, and
    (c) actually be at the fixpoint: one more manual round moves no
    rank by more than tol."""
    from erathia_market_etl_spark.operators.graph import pagerank_fixed_point

    # 4-cycle 1->2->3->4->1 plus feeders 5->1, 5->2: asymmetric inflow
    # keeps ranks oscillating around the cycle for many rounds
    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (5, 1), (5, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")

    r3 = {r["v"]: r["rank"] for r in pagerank_fixed_point(df, iters=3).collect()}

    # residual contracts ~0.85x/round (|eigenvalues| = 0.85 on the
    # cycle), so from ~1e6 initial mass, tol=1000 (1e-3 mass) needs
    # ~ln(1e3)/ln(1/0.85) ~ 43 rounds — inside max_iters, well past 3
    tol = 1000
    stats: dict = {}
    conv_df = pagerank_fixed_point(df, tol=tol, stats=stats)
    conv = {r["v"]: r["rank"] for r in conv_df.collect()}

    assert stats["residual"] is not None and stats["residual"] <= tol
    assert 3 < stats["rounds"] < 50  # took longer than the contract rounds
    assert conv != r3  # round-3 state is NOT the fixpoint here
    # the round-3 state is far outside the converged band — the
    # difference is structural, not truncation noise
    assert max(abs(conv[v] - r3[v]) for v in conv) > 10 * tol

    # (c) fixpoint check: run the same integer map one more round in
    # python from the converged state; nothing moves past tol
    deg = {1: 1, 2: 1, 3: 1, 4: 1, 5: 2}
    teleport = (15 * 1_000_000) // 100
    acc = {v: 0 for v in deg}
    for s, d in edges:
        acc[d] = acc.get(d, 0) + conv[s] // deg[s]
    nxt = {v: teleport + (85 * acc.get(v, 0)) // 100 for v in deg}
    assert all(abs(nxt[v] - conv[v]) <= tol for v in deg)


def test_pagerank_rejects_bad_tol(spark):
    import pytest

    from erathia_market_etl_spark.operators.graph import pagerank_fixed_point

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank_fixed_point(df, tol=0)


def test_hits_planted_bipartite_scores(spark, tmp_path):
    """graph_hits_influence semantic pin on a planted trading graph:

        c1 -> {s1, s2};  c2 -> {s1};  c3 -> {s1, s3}

    a1 (in-degree): s1=3, s2=1, s3=1
    h1: c1 = a1(s1)+a1(s2) = 4; c2 = 3; c3 = a1(s1)+a1(s3) = 4
    a2: s1 = h1(c1)+h1(c2)+h1(c3) = 11; s2 = 4; s3 = 4

    Non-vacuity: h1 ranks c1/c3 ABOVE c2 even though all of c2's mass
    rides the best authority — degree alone (2,1,2) can't order
    c2 vs c3's tie with c1, and a2(s2) == a2(s3) despite s2/s3 having
    different buyers (same hub mass) — the tiebreaks must then order
    deterministically."""
    import os

    from erathia_market_etl_spark.plans.graph_queries import (
        graph_hits_influence,
    )

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    li = [(1, 101), (1, 102), (2, 101), (3, 101), (3, 103)]
    spark.createDataFrame(
        [(o, s) for o, s in li], "l_orderkey long, l_suppkey long"
    ).write.parquet(f"{sf}/lineitem.parquet")
    spark.createDataFrame(
        [(1, 11), (2, 12), (3, 13)], "o_orderkey long, o_custkey long"
    ).write.parquet(f"{sf}/orders.parquet")

    rows = [tuple(r) for r in graph_hits_influence(spark, sf).collect()]
    assert rows == [
        ("supplier", 101, 3, 11),
        ("customer", 11, 2, 4),
        ("customer", 13, 2, 4),
        ("supplier", 102, 1, 4),
        ("supplier", 103, 1, 4),
        ("customer", 12, 1, 3),
    ]

"""Connected-components operator: crafted graphs where the expected
components are known by construction (the oracle query covers the
fixture path; this pins the algorithm itself)."""

from __future__ import annotations

import pytest

from erathia_market_etl_spark.operators.graph import (
    connected_components,
    connected_components_auto,
    connected_components_star,
)

KERNELS = [
    connected_components,
    connected_components_star,
    connected_components_auto,
]


def _cc(spark, edges, kernel=connected_components, **kw):
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = kernel(df, "src", "dst", **kw)
    rows = out.collect()
    got = {r["v"]: r["component_id"] for r in rows}
    assert len(rows) == len(got), "duplicate vertex rows"
    return got


@pytest.mark.parametrize("kernel", KERNELS)
def test_two_components_and_chain(spark, kernel):
    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds)
    # plus a separate triangle 10-11-12
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)]
    got = _cc(spark, edges, kernel)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


@pytest.mark.parametrize("kernel", KERNELS)
def test_cycle_and_duplicate_edges(spark, kernel):
    # cycles and repeated/reversed edges must not loop or double-count
    edges = [(5, 6), (6, 7), (7, 5), (6, 5), (5, 6)]
    got = _cc(spark, edges, kernel)
    assert got == {5: 5, 6: 5, 7: 5}


@pytest.mark.parametrize("kernel", KERNELS)
def test_self_loops_keep_singletons(spark, kernel):
    # a vertex with only a self-loop is its own singleton component in
    # BOTH kernels (the star kernel filters self-edges but must not
    # drop the vertex)
    edges = [(1, 2), (9, 9), (2, 2)]
    got = _cc(spark, edges, kernel)
    assert got == {1: 1, 2: 1, 9: 9}


def test_long_chain_converges(spark):
    # 12-vertex path: worst-case diameter for plain min-propagation
    edges = [(i, i + 1) for i in range(100, 111)]
    got = _cc(spark, edges)
    assert set(got.values()) == {100}
    assert len(got) == 12


def test_kernels_agree_on_random_graphs(spark, monkeypatch):
    """Every kernel must produce identical labels on arbitrary graphs;
    ground truth is a pure-Python union-find. Deterministic seeds, a
    mix of sparse (forest-ish) and dense (clustered) regimes. The auto
    kernel runs on both of its paths: local, and distributed with
    BOUND = 0."""
    import random

    from erathia_market_etl_spark.operators import graph as G

    for seed, n, m in [(1, 24, 14), (2, 30, 55), (3, 18, 40)]:
        rng = random.Random(seed)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]  # self-loops included on purpose
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        touched = set()
        for a, b in edges:
            touched.update((a, b))
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {v: find(v) for v in touched}

        star = _cc(spark, edges, connected_components_star)
        ml = _cc(spark, edges, connected_components)
        auto = _cc(spark, edges, connected_components_auto)
        with monkeypatch.context() as m:
            m.setattr(G, "BOUND", 0)
            auto_dist = _cc(spark, edges, connected_components_auto)
        assert star == want, f"star kernel wrong for seed {seed}"
        assert ml == want, f"min-label kernel wrong for seed {seed}"
        assert auto == want, f"auto kernel (local) wrong for seed {seed}"
        assert auto_dist == want, f"auto kernel (distributed) wrong for seed {seed}"


def test_star_raises_on_exhausted_iterations(spark):
    # a non-star-forest edge set at loop exit would emit conflicting
    # labels — the kernel must fail loudly, never silently corrupt
    # (min-label degrades to one consistent unconverged row instead)
    edges = [(i, i + 1) for i in range(500, 540)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(df, "src", "dst", max_iter=2).collect()


def test_star_collapses_path_in_log_rounds(spark):
    """The r5 VERDICT item 1 pin: on a planted 128-vertex path —
    diameter 127, the adversarial shape for min-label propagation —
    the alternating-star kernel must converge CORRECTLY within a
    logarithmic round budget that provably round-bounds min-label
    (which needs ~one round per hop and hits the same cap with wrong
    labels still in flight)."""
    n = 128
    edges = [(1000 + i, 1000 + i + 1) for i in range(n - 1)]
    cap = 12  # >> log2(128)=7 rounds of star, << the ~127 min-label needs

    stats: dict = {}
    got = _cc(spark, edges, connected_components_star, max_iter=cap, stats=stats)
    assert got == {1000 + i: 1000 for i in range(n)}  # correct at the cap
    assert stats["rounds"] <= 10, stats

    ml_stats: dict = {}
    ml = _cc(spark, edges, connected_components, max_iter=cap, stats=ml_stats)
    assert ml_stats["rounds"] == cap  # cap exhausted, still propagating
    assert ml != got  # labels not yet converged — the O(diameter) bound


def test_auto_kernel_stays_minlabel_on_dense(spark, monkeypatch):
    """Kernel escalation, dense half: on dup-cluster graphs — here
    three planted cliques, the near-clique shape LSH candidate pairs
    produce — min-label converges inside the escalation budget, so the
    distributed auto kernel (BOUND = 0 turns the local path off) must
    finish WITHOUT ever invoking the star kernel (its whole cost = the
    cheap labels-only rounds), with labels exact."""
    from erathia_market_etl_spark.operators import graph as G

    monkeypatch.setattr(G, "BOUND", 0)
    edges = []
    for base in (100, 300, 500):
        members = [base + i for i in range(8)]
        edges += [(a, b) for a in members for b in members if a < b]
    stats: dict = {}
    got = _cc(spark, edges, connected_components_auto, stats=stats)
    want = {base + i: base for base in (100, 300, 500) for i in range(8)}
    assert got == want
    assert stats["kernel"] == "minlabel", stats
    assert stats["star_rounds"] == 0, stats
    assert stats["rounds"] <= 4, stats


def test_auto_kernel_escalates_chain_to_star(spark, monkeypatch):
    """The other half: a planted 128-vertex path (diameter 127) blows
    the min-label escalation budget, so the distributed auto kernel
    (BOUND = 0) MUST hand the contracted graph to the alternating-star
    kernel — diameter robustness survives kernel selection — and still
    converge correctly within escalate_after + O(log² n) total rounds
    (min-label alone would need ~127)."""
    from erathia_market_etl_spark.operators import graph as G

    monkeypatch.setattr(G, "BOUND", 0)
    n = 128
    edges = [(2000 + i, 2000 + i + 1) for i in range(n - 1)]
    stats: dict = {}
    got = _cc(spark, edges, connected_components_auto, max_iter=12, stats=stats)
    assert got == {2000 + i: 2000 for i in range(n)}
    assert stats["kernel"] == "minlabel+star", stats
    assert stats["star_rounds"] >= 1, stats
    assert stats["rounds"] <= 16, stats


def test_auto_kernel_boundary_convergence_skips_star(spark, monkeypatch):
    """A graph whose min-label fixed point lands
    EXACTLY on round escalate_after makes a change in its last budget
    round, so _minlabel_rounds cannot observe convergence — but every
    surviving edge then joins same-label vertices, the contracted edge
    set is empty, and the labels are already the exact answer. The auto
    kernel must detect this with one isEmpty probe and return them
    WITHOUT paying the star kernel's canonicalize persist + prepass
    checkpoint + per-round actions on zero edges. Monkeypatching the
    star kernel to raise proves it is never invoked."""
    from erathia_market_etl_spark.operators import graph as G

    def boom(*a, **k):
        raise AssertionError("star kernel invoked on empty contraction")

    monkeypatch.setattr(G, "connected_components_star", boom)
    monkeypatch.setattr(G, "BOUND", 0)  # the distributed path
    # path 0-1-2: round 1 (the free aggregation round) leaves
    # lbl(2) = 1; round 2 fixes it — the last change lands exactly on
    # the escalate_after = 2 budget boundary, converged stays False
    stats: dict = {}
    got = _cc(
        spark, [(0, 1), (1, 2)], G.connected_components_auto,
        escalate_after=2, stats=stats,
    )
    assert got == {0: 0, 1: 0, 2: 0}
    assert stats["kernel"] == "minlabel", stats
    assert stats["star_rounds"] == 0, stats
    assert stats["rounds"] == 2, stats


def test_star_prepass_reuses_canon_exchange(spark):
    """The star kernel's small-star prepass must ride the
    canonicalize+dedup exchange: with canon persisted pre-partitioned
    on hi, the prepass groupBy(hi) and join(hi) may add NO new
    exchange — only the final (hi, lo) dedup shuffles. If a Spark
    upgrade stops honoring cached REPARTITION_BY_COL layout here, the
    edge table shuffles twice per invocation and the fusion comment in
    connected_components_star is a lie. The plan is built through the
    KERNEL'S OWN builders (_canonicalize + _small_star_plan, r6
    ADVICE) so the pin cannot drift from the shipped prepass shape."""
    from pyspark.sql import functions as F

    from erathia_market_etl_spark.operators.graph import (
        _canonicalize,
        _small_star_plan,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    canon = None
    try:
        canon = _canonicalize(
            spark.range(200).select(
                (F.col("id") + 1).alias("src"), (F.col("id") % 7).alias("dst")
            ),
            "src",
            "dst",
        )
        canon.count()
        pre = _small_star_plan(canon)
        plan = pre._jdf.queryExecution().executedPlan().toString()
        ensure = [
            ln for ln in plan.splitlines()
            if "Exchange" in ln and "ENSURE_REQUIREMENTS" in ln
        ]
        # exactly one requirement-driven exchange: the final (hi, lo)
        # dedup; groupBy(hi) and join(hi) reuse the cached layout
        assert len(ensure) == 1 and "hi" in ensure[0] and "lo" in ensure[0], plan
    finally:
        if canon is not None:
            canon.unpersist()  # even on assert failure: no cache leak
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_cached_edge_partitioning_survives_into_join(spark):
    """connected_components persists the edge table pre-partitioned on
    the join key INSTEAD of localCheckpoint (which drops
    outputPartitioning). Pin the planner behavior that makes that
    worthwhile: under sort-merge (the at-scale shape, labels too big to
    broadcast), the cached side joins with NO new exchange — only the
    labels side shuffles. If a Spark upgrade stops honoring cached
    partitioning, this fails and the operator should be rethought."""
    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        edges = spark.range(100).select(
            F.col("id").alias("a"), (F.col("id") + 1).alias("b")
        )
        sym = edges.distinct().repartition("b").persist()
        sym.count()
        labels = spark.range(100).select(
            F.col("id").alias("v"), F.col("id").alias("lbl")
        )
        j = sym.join(labels, sym["b"] == labels["v"])
        plan = j._jdf.queryExecution().executedPlan().toString()
        ensure = [
            ln for ln in plan.splitlines()
            if "Exchange" in ln and "ENSURE_REQUIREMENTS" in ln
        ]
        # exactly one requirement-driven exchange: the labels side (v);
        # the cached edge side must reuse its REPARTITION_BY_COL layout
        assert len(ensure) == 1 and "v#" in ensure[0], plan
        sym.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe is not None:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_auto_kernel_property_random_graphs(spark, monkeypatch):
    """Hypothesis property: on arbitrary random graphs — spanning the
    sparse/forest, dense/clustered, and chain-heavy regimes, self-loops
    and duplicate/reversed edges included — the escalating distributed
    auto kernel (BOUND = 0) must always equal a pure-Python union-find,
    regardless of which escalation path it takes. Complements the
    fixed-seed three-kernel pin with generative coverage of the routing
    boundary."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from erathia_market_etl_spark.operators import graph as G

    monkeypatch.setattr(G, "BOUND", 0)

    @settings(max_examples=6, deadline=None)
    @given(st.data())
    def run(data):
        n = data.draw(st.integers(min_value=2, max_value=40))
        m = data.draw(st.integers(min_value=1, max_value=70))
        edges = [
            (data.draw(st.integers(0, n - 1)), data.draw(st.integers(0, n - 1)))
            for _ in range(m)
        ]
        # sometimes append a planted chain so escalation actually fires
        if data.draw(st.booleans()):
            base = n + 10
            edges += [(base + i, base + i + 1) for i in range(25)]
        parent = list(range(max(max(a, b) for a, b in edges) + 1))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        touched = set()
        for a, b in edges:
            touched.update((a, b))
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {v: find(v) for v in touched}
        got = _cc(spark, edges, connected_components_auto, escalate_after=3)
        assert got == want

    run()


def test_fixture_lsh_graph_routes_minlabel(spark, monkeypatch):
    """Pinned on the REAL pipeline input: the fixture corpus's
    MinHash-LSH candidate graph is dense dup clusters, so on the
    distributed path (BOUND = 0; at scale the graph outgrows BOUND) the
    registered dedup pipelines' auto kernel must finish inside the
    min-label budget — never paying a star round. If LSH parameters or
    the corpus shape ever change this, the kernel still returns exact
    labels (the oracle stays green) but the at-scale cost jumps; fail
    HERE first with the routing stats in hand."""
    from erathia_market_etl_spark.operators import graph as G
    from erathia_market_etl_spark.operators.dedup import (
        minhash_candidate_pairs,
    )

    monkeypatch.setattr(G, "BOUND", 0)
    from erathia_market_etl_spark.sources.parquet_io import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    pairs = minhash_candidate_pairs(docs, "text", "doc_id")
    stats: dict = {}
    out = connected_components_auto(pairs, "doc_a", "doc_b", stats=stats)
    assert out.count() > 0
    assert stats["kernel"] == "minlabel", stats
    assert stats["rounds"] <= 6, stats


def _union_find(edges):
    """Pure-Python reference: vertex -> minimum vertex of its component."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_local_path_equals_minlabel_property(spark):
    """Hypothesis property: on random graphs — self-loops, duplicate and
    reversed edges, negative ids and planted chains included — the
    auto kernel's local path labels every vertex exactly as the
    min-label kernel does (and as a pure-Python union-find)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=8, deadline=None)
    @given(st.data())
    def run(data):
        n = data.draw(st.integers(min_value=1, max_value=40))
        m = data.draw(st.integers(min_value=1, max_value=80))
        ids = st.integers(0, n - 1).map(lambda i: i * 7 - 50)
        edges = [(data.draw(ids), data.draw(ids)) for _ in range(m)]
        edges += [(b, a) for a, b in edges[: data.draw(st.integers(0, m))]]
        if data.draw(st.booleans()):
            edges += [(500 + i + 1, 500 + i) for i in range(25)]
        stats: dict = {}
        local = _cc(spark, edges, connected_components_auto, stats=stats)
        assert stats == {"rounds": 0, "kernel": "local", "star_rounds": 0}
        assert local == _cc(spark, edges, connected_components)
        assert local == _union_find(edges)

    run()


@pytest.mark.parametrize("shape", [
    "src long, dst long", "src int, dst long", "src short, dst short",
    "non-nullable",
])
def test_local_path_schema_matches_distributed(spark, monkeypatch, shape):
    """The local path returns the distributed path's schema exactly —
    the wider endpoint type, v as nullable as the endpoints,
    component_id nullable — so a consumer cannot tell which path ran.
    A non-nullable edge frame (spark.range) keeps v non-nullable."""
    from pyspark.sql import functions as F

    from erathia_market_etl_spark.operators import graph as G

    if shape == "non-nullable":
        df = spark.range(4).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )
    else:
        df = spark.createDataFrame([(1, 2), (2, 3), (9, 9)], shape)
    stats: dict = {}
    local = connected_components_auto(df, "src", "dst", stats=stats)
    assert stats["kernel"] == "local"
    monkeypatch.setattr(G, "BOUND", 0)
    dist = connected_components_auto(df, "src", "dst", stats=stats)
    assert stats["kernel"] == "minlabel"
    assert local.schema == dist.schema, (local.schema, dist.schema)
    assert sorted(local.collect()) == sorted(dist.collect())


def test_local_path_bound_is_inclusive(spark, monkeypatch):
    """BOUND edges run locally; BOUND + 1 edges go to the distributed
    kernels, with the same labels. The exchange width is asked for
    only on the distributed path."""
    from erathia_market_etl_spark.operators import graph as G

    monkeypatch.setattr(G, "BOUND", 5)
    sized = []

    def width():
        sized.append(1)
        return 2

    edges = [(i, i + 1) for i in range(5)]
    stats: dict = {}
    got = _cc(spark, edges, connected_components_auto, stats=stats,
              num_partitions=width)
    assert got == {i: 0 for i in range(6)}
    assert stats["kernel"] == "local", stats
    assert sized == []
    edges.append((10, 11))
    got = _cc(spark, edges, connected_components_auto, stats=stats,
              num_partitions=width)
    assert stats["kernel"] == "minlabel", stats
    assert got == {**{i: 0 for i in range(6)}, 10: 10, 11: 10}
    assert sized == [1]


def test_null_and_non_integral_endpoints_route_distributed(spark):
    """A NULL endpoint or a non-integral id type is not the local path's
    input: both go to the distributed kernels and return what
    min-label returns."""
    cases = [
        (spark.createDataFrame([(1, None), (2, 3), (3, 4)], "src long, dst long"),
         "minlabel"),
        (spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string"),
         "minlabel"),
    ]
    for df, kernel in cases:
        stats: dict = {}
        got = connected_components_auto(df, "src", "dst", stats=stats)
        assert stats["kernel"] == kernel, stats
        want = connected_components(df, "src", "dst")
        assert sorted(got.collect(), key=str) == sorted(want.collect(), key=str)


def test_fixture_lsh_graph_routes_local(spark, monkeypatch):
    """The fixture corpus's MinHash-LSH candidate graph is far under
    BOUND, so the registered dedup pipelines label it on the driver —
    no Spark round — with the labels the distributed path computes."""
    from erathia_market_etl_spark.operators import graph as G
    from erathia_market_etl_spark.operators.dedup import (
        minhash_candidate_pairs,
    )
    from erathia_market_etl_spark.sources.parquet_io import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    pairs = minhash_candidate_pairs(docs, "text", "doc_id")
    stats: dict = {}
    local = connected_components_auto(pairs, "doc_a", "doc_b", stats=stats)
    assert stats["kernel"] == "local", stats
    got = sorted(local.collect())
    assert got
    monkeypatch.setattr(G, "BOUND", 0)
    dist = connected_components_auto(pairs, "doc_a", "doc_b")
    assert got == sorted(dist.collect())


def test_triangle_counts_planted_shapes(spark):
    """K4 (every node in C(3,2)=3 triangles), a pendant vertex (degree
    1, zero triangles, still present in the output), and a triangle-free
    path — the hand-checkable pins for the degree-oriented kernel."""
    from erathia_market_etl_spark.operators.graph import triangle_counts

    # K4 on {1,2,3,4} + pendant 5-1 + path 6-7
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (1, 5), (6, 7)]
    df = spark.createDataFrame(edges, "x long, y long")
    got = {r["v"]: (r["degree"], r["triangles"])
           for r in triangle_counts(df).collect()}
    assert got == {
        1: (4, 3), 2: (3, 3), 3: (3, 3), 4: (3, 3),
        5: (1, 0), 6: (1, 0), 7: (1, 0),
    }


def test_triangle_counts_match_bruteforce_random(spark):
    """Randomized equality vs a pure-Python per-vertex triangle counter
    — exercises skewed degrees (a planted hub) so the degree
    orientation path is non-trivial, and proves the count is a pure
    function of the edge set (orientation/tie-break independence)."""
    import itertools
    import random

    from erathia_market_etl_spark.operators.graph import triangle_counts

    rng = random.Random(97)
    nodes = list(range(1, 26))
    edge_set = set()
    for a, b in itertools.combinations(nodes, 2):
        if rng.random() < 0.18:
            edge_set.add((a, b))
    # planted hub: node 1 connects to everything (degree skew)
    for b in nodes[1:]:
        edge_set.add((1, b))

    adj: dict[int, set[int]] = {v: set() for v in nodes}
    for a, b in edge_set:
        adj[a].add(b)
        adj[b].add(a)
    expected = {}
    for v in nodes:
        nbrs = sorted(adj[v])
        t = sum(
            1
            for i, p in enumerate(nbrs)
            for q in nbrs[i + 1:]
            if q in adj[p]
        )
        if adj[v]:
            expected[v] = (len(adj[v]), t)

    df = spark.createDataFrame(sorted(edge_set), "x long, y long")
    got = {r["v"]: (r["degree"], r["triangles"])
           for r in triangle_counts(df).collect()}
    assert got == expected


def test_basket_pair_lift_planted(spark, tmp_path):
    """Lift semantics: a pair that ALWAYS co-occurs scores lift 2e6
    (twice independence) while a pair involving a part present in
    every order scores exactly 1e6 (independence) — the association
    measure frequency alone cannot express."""
    from erathia_market_etl_spark.plans.graph_queries import (
        basket_pair_lift,
    )

    # 4 orders; parts 1,2 co-occur in exactly orders 1,2; part 3 rides
    # every order. One duplicate (o1, p1) line pins the DISTINCT.
    rows = [
        (1, 1), (1, 1), (1, 2), (1, 3),
        (2, 1), (2, 2), (2, 3),
        (3, 3), (4, 3),
    ]
    df = spark.createDataFrame(
        [(o, p, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "1996-01-01")
         for o, p in rows],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate string",
    ).withColumn("l_shipdate", __import__("pyspark").sql.functions.col("l_shipdate").cast("date"))
    p = str(tmp_path / "sf")
    df.write.parquet(p + "/lineitem.parquet")
    out = {(r["x"], r["y"]): r.asDict() for r in
           basket_pair_lift(spark, p).collect()}
    # pair (1,2): support 2, cnt 2/2, N=4 -> lift = 2*4e6/4 = 2e6
    assert out[(1, 2)]["support"] == 2
    assert out[(1, 2)]["lift_ppm"] == 2_000_000
    # pair (1,3): support 2, cnt_1=2, cnt_3=4 -> 2*4e6/8 = 1e6 exactly
    assert out[(1, 3)]["lift_ppm"] == 1_000_000
    assert out[(2, 3)]["lift_ppm"] == 1_000_000


def test_kcore_peel_cascades_across_rounds(spark):
    """A chain a-b-c-d-e plus a K4 clique: at k=2 the chain's endpoints
    peel in round 1, which EXPOSES their neighbors (now degree 1) to
    round 2, and so on — a one-shot initial-degree filter would keep
    b/c/d forever. After 4 rounds only the clique stands, every member
    at degree 3."""
    from erathia_market_etl_spark.operators.graph import kcore_peel

    chain = [(1, 2), (2, 3), (3, 4), (4, 5)]
    clique = [(u, v) for u in (10, 11, 12, 13) for v in (10, 11, 12, 13) if u < v]
    und = chain + clique
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und],
        "src long, dst long",
    )
    out = {r["v"]: r["deg"] for r in kcore_peel(edges, k=2, rounds=4).collect()}
    assert out == {10: 3, 11: 3, 12: 3, 13: 3}

    # one round is NOT enough: b(2)/c(3)/d(4) still standing after r1
    r1 = {r["v"] for r in kcore_peel(edges, k=2, rounds=1).collect()}
    assert {2, 3, 4}.issubset(r1)


def test_kcore_round_state_keeps_subthreshold_survivor(spark):
    """Round-N accounting contract: a node that passed round N's degree
    check but lost neighbors in the SAME round reports its (possibly
    sub-k) degree in the surviving subgraph rather than being dropped
    — the 'one more round needed' state the fixed-round contract
    deliberately exposes (pagerank_fixed_point precedent)."""
    from erathia_market_etl_spark.operators.graph import kcore_peel

    # path x-y-z: at k=1, nothing peels; at k=2 with rounds=1:
    # x,z peel (deg 1), y survives the check (deg 2) but its edges die
    und = [(1, 2), (2, 3)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und],
        "src long, dst long",
    )
    r1 = {r["v"]: r["deg"] for r in kcore_peel(edges, k=2, rounds=1).collect()}
    assert r1 == {}  # y kept the check but has no surviving edges

    k1 = {r["v"]: r["deg"] for r in kcore_peel(edges, k=1, rounds=4).collect()}
    assert k1 == {1: 1, 2: 2, 3: 1}


def test_kcore_loyalty_fixture_actually_peels(spark):
    """Non-vacuity on the real fixture: the repeat-trade graph at
    sf0.001 must lose at least one node to the peel (the query is not
    an identity map) and every survivor's reported degree counts only
    surviving neighbors."""
    from erathia_market_etl_spark.plans.graph_queries import (
        KCORE_K,
        graph_kcore_loyalty,
    )

    from .conftest import SF_SMOKE

    rows = graph_kcore_loyalty(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    # survivors' degrees are >= 1; at least the peel removed someone
    # (159 of 160 nodes survive at sf0.001 — still a strict subset)
    assert all(r["core_degree"] >= 1 for r in rows)
    from erathia_market_etl_spark.plans.graph_queries import KCORE_MIN_TRADES
    from erathia_market_etl_spark.sources.parquet_io import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, SF_SMOKE, "lineitem")
    orders = load_table(spark, SF_SMOKE, "orders")
    base = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= KCORE_MIN_TRADES)
    )
    n_initial = (
        base.select(F.explode(F.array("c", "s")).alias("v"))
        .distinct()
        .count()
    )
    assert len(rows) < n_initial, (len(rows), n_initial)
    assert KCORE_K >= 2


def _undirected(spark, pairs):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pairs, "a long, b long")
    return df.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        df.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )


def test_lpa_tie_rule_and_round2_propagation(spark):
    """Planted path 1-2-3-4-5: after round 1 every node holds its
    smallest neighbor's label (tie rule: with all-distinct initial
    labels every neighbor label has count 1, so argmax = MIN neighbor
    label); after round 2 labels propagate a second hop — the round-2
    state differs from round 1, so ROUNDS=2 is attested non-vacuously."""
    from erathia_market_etl_spark.plans.graph_queries import lpa_labels

    edges = _undirected(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    r1 = {r["v"]: r["lab"] for r in lpa_labels(edges, 1).collect()}
    # min-neighbor: 1<-2's min nbr is... node 1's nbrs = {2} -> 2;
    # 2's nbrs {1,3} -> 1; 3's {2,4} -> 2; 4's {3,5} -> 3; 5's {4} -> 4
    assert r1 == {1: 2, 2: 1, 3: 2, 4: 3, 5: 4}
    r2 = {r["v"]: r["lab"] for r in lpa_labels(edges, 2).collect()}
    # round 2 over r1 labels: 1 sees {lab(2)=1} -> 1; 2 sees {2,2} -> 2;
    # 3 sees {1,3} -> 1; 4 sees {2,4} -> 2; 5 sees {3} -> 3
    assert r2 == {1: 1, 2: 2, 3: 1, 4: 2, 5: 3}
    assert r2 != r1


def test_lpa_majority_beats_smaller_label(spark):
    """Argmax is by COUNT first, label only on ties: after round 1 the
    2-3-6 triangle converges its boundary to label 2, so in round 2
    node 5 sees neighbor labels {2 x2 (from 3 and 6), 3 x1 (from 2),
    5 x1 (from 4)} and must adopt the MAJORITY label 2 — not the
    result of any pure-min rule over raw neighbor ids (which round 1
    already pins separately)."""
    from erathia_market_etl_spark.plans.graph_queries import lpa_labels

    edges = _undirected(
        spark, [(2, 3), (2, 6), (3, 6), (2, 5), (3, 5), (6, 5), (4, 5)]
    )
    r2 = {r["v"]: r["lab"] for r in lpa_labels(edges, 2).collect()}
    assert r2[5] == 2
    # and node 4 follows its only neighbor's round-1 label
    assert r2[4] == 2  # lab(5) after round 1 = min(2,3,4,6) = 2


def test_bfs_rings_on_planted_path_graph(spark, tmp_path):
    """graph_bfs_reach semantics on a planted star-plus-path trade
    graph with KNOWN rings: hub customer 1 trades with suppliers
    2,3,4 (>=3 line items each); supplier 2 also serves customer 5,
    who also buys from supplier 6. Node encoding c*2 / s*2+1:
    hub = 2 (degree 3 beats everyone), ring 1 = {5, 7, 9}
    (suppliers 2,3,4), ring 2 = {10} (customer 5), ring 3 = {13}
    (supplier 6)."""
    import datetime as dt

    from erathia_market_etl_spark.plans.graph_queries import graph_bfs_reach

    rows, ok = [], 0

    def trade(ck, sk, times):
        nonlocal ok
        for _ in range(times):
            ok += 1
            rows.append((ok, ck, sk))

    trade(1, 2, 3); trade(1, 3, 3); trade(1, 4, 3)
    trade(5, 2, 3); trade(5, 6, 3)
    orders = [(o, c, "O", 1.0, dt.date(2024, 3, 1), "1-URGENT")
              for o, c, _ in rows]
    lineitem = [(o, 1, s, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
                 dt.date(2024, 3, 1)) for o, _, s in rows]
    p = str(tmp_path / "sf")
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate date, o_orderpriority string",
    ).write.parquet(f"{p}/orders.parquet")
    spark.createDataFrame(
        lineitem,
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber long, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate date",
    ).write.parquet(f"{p}/lineitem.parquet")

    got = {r["dist"]: (r["n_nodes"], r["min_node"], r["max_node"])
           for r in graph_bfs_reach(spark, p).collect()}
    assert got[0] == (1, 2, 2)
    assert got[1] == (3, 5, 9)
    assert got[2] == (1, 10, 10)
    assert got[3] == (1, 13, 13)

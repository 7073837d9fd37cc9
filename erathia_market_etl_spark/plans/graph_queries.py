"""Graph-centrality queries over the relational fixtures.

The reference has no graph surface; this is extension coverage for the
web-graph side of a training-data pipeline: PageRank-family centrality
is the standard source-quality weight for crawl-derived corpora (e.g.
Common Crawl publishes harmonic/PageRank centrality per host, and
pretraining pipelines weight or gate documents by it). The connected-
component kernels used by the dedup queries live in
``operators/graph.py``; this module adds the power-iteration side.

``graph_pagerank_influence`` is in the driver tier; the other graph
queries are in the local tier, whose oracles run through the driver's
own compare in ``tests/test_oracle_parity.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import PAGERANK_SCALE, pagerank_fixed_point
from ..sources.parquet_io import load_table
from .registry import query

PAGERANK_ITERS = 3

# The oracle unrolls the same three integer power-iteration rounds as
# chained CTEs — DuckDB's BIGINT // matches Spark's DIV exactly on the
# all-positive ranks, and the HUGEINT SUM is cast back to BIGINT before
# the damping divide so both engines round identically.
_ITER_CTE = """
    r{k} AS (
        -- LEFT JOIN from the node set: a node with out-edges but no
        -- in-contributions this round keeps its teleport-mass row
        -- (directed-graph contract; mirrors the Spark kernel)
        SELECT d0.v,
               CAST({teleport} + 85 * COALESCE(c.s, 0) // 100
                    AS BIGINT) AS rank
        FROM deg d0
        LEFT JOIN (
            SELECT e.dst AS v,
                   CAST(SUM(r.rank // d.deg) AS BIGINT) AS s
            FROM edges e
            JOIN r{prev} r ON e.src = r.v
            JOIN deg d ON e.src = d.v
            GROUP BY e.dst
        ) c ON d0.v = c.v
    )"""

GRAPH_PAGERANK_INFLUENCE_ORACLE = (
    """
    WITH base AS MATERIALIZED (
        SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS MATERIALIZED (
        SELECT c AS src, s AS dst FROM base
        UNION ALL
        SELECT s AS src, c AS dst FROM base
    ),
    deg AS MATERIALIZED (
        SELECT src AS v, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT v, CAST({scale} AS BIGINT) AS rank FROM deg),"""
    + ",".join(
        _ITER_CTE.format(k=k, prev=k - 1, teleport=(15 * PAGERANK_SCALE) // 100)
        for k in range(1, PAGERANK_ITERS + 1)
    )
    + """
    SELECT CASE WHEN r.v % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
           r.v // 2 AS entity_key,
           d.deg AS degree,
           r.rank AS rank_scaled
    FROM r{last} r JOIN deg d ON r.v = d.v
    ORDER BY rank_scaled DESC, node_type, entity_key
    """
).format(scale=PAGERANK_SCALE, last=PAGERANK_ITERS)


@query("graph_pagerank_influence", oracle=GRAPH_PAGERANK_INFLUENCE_ORACLE)
def graph_pagerank_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the symmetrized customer–supplier
    interaction graph (an edge per distinct customer/supplier pair that
    ever traded, both directions): PAGERANK_ITERS (3) integer
    power-iteration rounds at damping 0.85, exact fixed-point longs
    (PAGERANK_SCALE = 1e6) so the DuckDB unrolled-CTE twin is
    hash-exact — see ``pagerank_fixed_point`` for the arithmetic and
    lineage-discipline contract.

    ROUNDS=3 IS THE CONTRACT of this query (r9, VERDICT r8 item 6):
    the output is the round-3 accounting state, deliberately NOT the
    converged fixpoint — fixing the round count is what lets the SQL
    twin unroll the identical rounds and attest the longs bit-for-bit.
    Round-3 ranks and the fixpoint genuinely differ
    (tests/test_pagerank.py::test_fixed_rounds_differ_from_fixpoint
    pins a graph where they do); callers wanting converged centrality
    call ``pagerank_fixed_point(..., tol=...)``, the residual-based
    stop, instead of this query.

    Node encoding: customers ride even ids (custkey*2), suppliers odd
    (suppkey*2+1) — one long key space, no string keys on the shuffle.
    Symmetrizing makes every node's out-degree >= 1, so there is no
    dangling-mass term and the returned frame covers every node.

    At 100 TB (the Common Crawl host graph is ~100M nodes / ~1B
    edges): the edge stream pays exactly ONE exchange (the kernel's
    hash(src) repartition, with the pair-dedup riding it), the degree
    aggregate reuses that partitioning, and each round moves only the
    node-sized contrib table plus one dst-keyed aggregate; the three
    contract rounds unroll into a single lazy plan with no per-round
    driver actions (see ``pagerank_fixed_point``)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    base = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
    )
    both = F.array(
        F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
        F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
    )
    edges = base.select(F.explode(both).alias("e")).select("e.src", "e.dst")
    # dedup=True: the old per-pair .distinct() exchange folds into the
    # kernel's hash(src) exchange (explode of distinct pairs == distinct
    # of exploded pairs — customer/supplier ids live in disjoint
    # even/odd key spaces, so no cross-pair collision is possible), one
    # full-stream exchange instead of two; the exchange width derives
    # from the lineitem scan size instead of the cluster constant
    # (r16 optimization, guide §2.2). ~1 MB of source parquet per
    # partition: the symmetrized edge stream is roughly 10x the
    # compressed scan bytes (decode + join + both-directions explode),
    # and an 8-16-partition layout measured fastest on the 1.2M-edge
    # sf0.1 graph (1 partition: 3.9 s, 8: 2.2 s, 32: 2.7 s); at decade+
    # scales the estimate exceeds the clamp and the configured shuffle
    # width wins.
    from ..sources.parquet_io import adaptive_partitions

    ranks = pagerank_fixed_point(
        edges, iters=PAGERANK_ITERS, dedup=True,
        num_partitions=adaptive_partitions(li, bytes_per_partition=1 << 20),
    )
    return (
        ranks.select(
            F.when(F.col("v") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier")).alias("node_type"),
            F.expr("v DIV 2").alias("entity_key"),
            F.col("deg").alias("degree"),
            F.col("rank").alias("rank_scaled"),
        )
        .orderBy(F.col("rank_scaled").desc(), "node_type", "entity_key")
    )


# ---------------------------------------------------------------------------
# graph_triangle_cohesion: per-part triangle counts over the co-purchase
# graph.
# ---------------------------------------------------------------------------

TRIANGLE_TOP_K = 50

GRAPH_TRIANGLE_COHESION_ORACLE = f"""
    WITH li AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS MATERIALIZED (
        SELECT a.p AS x, b.p AS y
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
    ),
    deg AS (
        SELECT v, COUNT(*) AS degree FROM (
            SELECT x AS v FROM edges UNION ALL SELECT y AS v FROM edges
        ) GROUP BY v
    ),
    -- id-orientation closure: x < y < z counts each triangle once;
    -- triangle totals are orientation-independent, so this attests the
    -- degree-oriented Spark kernel bit-for-bit
    tri AS MATERIALIZED (
        SELECT e1.x AS a, e1.y AS b, e2.y AS c
        FROM edges e1
        JOIN edges e2 ON e1.y = e2.x
        JOIN edges e3 ON e3.x = e1.x AND e3.y = e2.y
    ),
    pern AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
            SELECT a AS v FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY v
    )
    SELECT d.v AS part_key,
           CAST(d.degree AS BIGINT) AS degree,
           COALESCE(p.triangles, 0) AS triangles,
           CAST(d.degree * (d.degree - 1) // 2 AS BIGINT) AS wedges
    FROM deg d LEFT JOIN pern p ON d.v = p.v
    ORDER BY triangles DESC, part_key
    LIMIT {TRIANGLE_TOP_K}
    """


@query(
    "graph_triangle_cohesion",
    oracle=GRAPH_TRIANGLE_COHESION_ORACLE,
    tier="local",
)
def graph_triangle_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the part co-purchase graph (an undirected
    edge per distinct part pair that ever shared an order): the
    TRIANGLE_TOP_K (50) most triangle-embedded parts with their degree,
    triangle count, and wedge count (degree choose 2 — the local
    clustering coefficient's exact-integer numerator/denominator pair,
    kept unreduced so the contract stays hash-exact).

    Triangle density is the standard cohesion signal on co-occurrence
    graphs (community detection preprocessing, spam/bot subgraph
    flagging on web graphs, basket-affinity strength beyond pairwise
    counts). The kernel is ``triangle_counts`` — degree-oriented wedge
    enumeration, O(m^1.5) intermediate on any degree distribution; see
    its docstring for the scale argument.

    Plan: distinct (order, part) pairs -> per-order pair expansion
    (bounded by basket size: TPC-H orders hold <= 7 lineitems, and
    production baskets are similarly capped — the expansion is
    O(basket^2) per order, never corpus-quadratic) -> distinct edge
    set -> the kernel's three id-only shuffles. At production scale a
    co-purchase graph adds a min-support edge filter (HAVING
    COUNT(*) >= s on the pair aggregate) before the kernel — a
    one-line knob on the same plan; the fixtures run support 1 so the
    small-SF graphs stay triangle-rich."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("x")
    )
    b = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("y")
    )
    edges = (
        a.join(b, "o")
        .filter(F.col("x") < F.col("y"))
        .select("x", "y")
        .distinct()
    )
    from ..operators.graph import triangle_counts

    counts = triangle_counts(edges)
    return (
        counts.select(
            F.col("v").alias("part_key"),
            "degree",
            "triangles",
            F.expr("degree * (degree - 1) DIV 2").alias("wedges"),
        )
        .orderBy(F.desc("triangles"), "part_key")
        .limit(TRIANGLE_TOP_K)
    )


# ---------------------------------------------------------------------------
# basket_pair_lift: market-basket association strength (support + lift).
# ---------------------------------------------------------------------------

BASKET_TOP_K = 20

BASKET_PAIR_LIFT_ORACLE = f"""
    WITH li AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM li),
    freq AS (
        SELECT p, CAST(COUNT(*) AS BIGINT) AS cnt FROM li GROUP BY p
    ),
    pairs AS (
        SELECT a.p AS x, b.p AS y, CAST(COUNT(*) AS BIGINT) AS support
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
    )
    SELECT pr.x, pr.y, pr.support,
           fx.cnt AS cnt_x, fy.cnt AS cnt_y,
           pr.support * n.n_orders * 1000000 // (fx.cnt * fy.cnt)
               AS lift_ppm
    FROM pairs pr
    JOIN freq fx ON pr.x = fx.p
    JOIN freq fy ON pr.y = fy.p
    CROSS JOIN n
    ORDER BY support DESC, x, y
    LIMIT {BASKET_TOP_K}
    """


@query("basket_pair_lift", oracle=BASKET_PAIR_LIFT_ORACLE, tier="local")
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: the BASKET_TOP_K (20) most
    co-purchased part pairs with their support (co-occurrence count)
    and LIFT — support(x,y)·N / (cnt(x)·cnt(y)) as exact
    parts-per-million (lift > 1e6 means the pair co-occurs more than
    independence predicts; the Apriori/recommender association
    strength). The pair table is the SAME bounded per-order expansion
    the triangle query builds its edges from — O(basket²) per order,
    never corpus-quadratic — kept WITH its co-occurrence counts here
    instead of deduplicated.

    Plan: one orderkey exchange for the distinct (order, part) table
    feeding both the pair self-join and the part-frequency aggregate;
    the pair aggregate folds map-side; part frequencies ride BROADCAST
    joins back onto the top pairs; the single-row N is a broadcast
    cross join. max product support·N·1e6 ~ 2e14 — inside int64.
    Production adds a min-support HAVING on the pair aggregate (the
    same knob the triangle query documents)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint()  # feeds pairs, freq, and N
    )
    n = li.agg(F.countDistinct("o").cast("long").alias("n_orders"))
    freq = li.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    a = li.select("o", F.col("p").alias("x"))
    b = li.select("o", F.col("p").alias("y"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .orderBy(F.desc("support"), "x", "y")
        .limit(BASKET_TOP_K)
    )
    fx = freq.select(F.col("p").alias("x"), F.col("cnt").alias("cnt_x"))
    fy = freq.select(F.col("p").alias("y"), F.col("cnt").alias("cnt_y"))
    return (
        pairs.join(F.broadcast(fx), "x")
        .join(F.broadcast(fy), "y")
        .crossJoin(F.broadcast(n))
        .select(
            "x", "y", "support", "cnt_x", "cnt_y",
            F.expr(
                "support * n_orders * 1000000 DIV (cnt_x * cnt_y)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.desc("support"), "x", "y")
    )


# ---------------------------------------------------------------------------
# graph_kcore_loyalty: fixed-round k-core peeling over the repeat-trade
# graph.
# ---------------------------------------------------------------------------

KCORE_K = 3           # survive with >= 3 repeat-trade partners
KCORE_ROUNDS = 4      # THE CONTRACT: round-4 accounting state
KCORE_MIN_TRADES = 3  # an edge = pair traded >= 3 line items

# MATERIALIZED fences (r15): DuckDB INLINES plain CTEs, and in this
# chained unroll e{r} references e{p} three ways (directly + twice via
# k{r} -> d{p}), so inlining recomputes the corpus-sized base ~3^rounds
# times — at synthetic sf1 that spilled the full-registry sweep to
# disk. Materializing each round's tables makes the unroll linear;
# results are identical (the hint is an optimization fence only).
_KCORE_ROUND_CTE = """
    d{p} AS MATERIALIZED (
        SELECT src AS v, COUNT(*) AS deg FROM e{p} GROUP BY src),
    k{r} AS MATERIALIZED (SELECT v FROM d{p} WHERE deg >= {k}),
    e{r} AS MATERIALIZED (
        SELECT src, dst FROM e{p}
        WHERE src IN (SELECT v FROM k{r}) AND dst IN (SELECT v FROM k{r})
    )"""

GRAPH_KCORE_LOYALTY_ORACLE = (
    """
    WITH base AS MATERIALIZED (
        SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
               COUNT(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    ),
    rep AS MATERIALIZED (SELECT c, s FROM base WHERE n >= {minn}),
    e0 AS MATERIALIZED (
        SELECT c AS src, s AS dst FROM rep
        UNION ALL
        SELECT s AS src, c AS dst FROM rep
    ),"""
    + ",".join(
        _KCORE_ROUND_CTE.format(r=r, p=r - 1, k=KCORE_K)
        for r in range(1, KCORE_ROUNDS + 1)
    )
    + """
    SELECT CASE WHEN src % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
           src // 2 AS entity_key,
           CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM e{last}
    GROUP BY src
    ORDER BY core_degree DESC, node_type, entity_key
    """
).format(minn=KCORE_MIN_TRADES, last=KCORE_ROUNDS)


@query("graph_kcore_loyalty", oracle=GRAPH_KCORE_LOYALTY_ORACLE, tier="local")
def graph_kcore_loyalty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition of the REPEAT-TRADE graph: nodes are
    customers (even ids) and suppliers (odd), an edge means the pair
    traded >= KCORE_MIN_TRADES line items, and KCORE_ROUNDS (4) peel
    rounds drop every node with fewer than KCORE_K (3) surviving
    repeat partners — the loyalty core a marketplace's account team
    actually works from (one-off trades and hangers-on peeled away).
    The k-core is THE standard dense-subgraph primitive (community
    seeding, spam-net detection, graph-sampling cores); the peel is a
    genuinely different iterative kernel from PageRank (mass-free,
    monotone shrinking) and from connected components (degree
    threshold, not reachability).

    ROUNDS=4 IS THE CONTRACT (the pagerank_fixed_point pattern): the
    output is the round-4 accounting state so the DuckDB unrolled-CTE
    twin attests the peel bit-for-bit; cascades genuinely span rounds
    (sf0.01: 898 nodes -> 264 -> 258 -> 251 over the four rounds;
    tests/test_graph.py plants a chain where round 2 peels what round
    1 exposed). core_degree is the node's degree in the SURVIVING
    subgraph. Kernel: operators/graph.py::kcore_peel (localCheckpoint
    lineage discipline; per-round cost shrinks monotonically).

    Scale: the repeat-trade base aggregate is the only corpus-sized
    stage; each peel round touches the (shrinking) edge table with one
    map-side-combinable degree agg + two keys-only semi joins — the
    same shape at 100 TB, where the Common-Crawl-host-graph k-core is
    a standard pretraining source-quality pass."""
    from ..operators.graph import kcore_peel

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    rep = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= KCORE_MIN_TRADES)
    )
    both = F.array(
        F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
        F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
    )
    edges = rep.select(F.explode(both).alias("e")).select("e.src", "e.dst")
    core = kcore_peel(edges, k=KCORE_K, rounds=KCORE_ROUNDS)
    return (
        core.select(
            F.when(F.col("v") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier")).alias("node_type"),
            F.expr("v DIV 2").alias("entity_key"),
            F.col("deg").alias("core_degree"),
        )
        .orderBy(F.desc("core_degree"), "node_type", "entity_key")
    )


# ---------------------------------------------------------------------------
# graph_hits_influence: two-round integer HITS (hubs & authorities)
# over the DIRECTED customer->supplier trading graph.
# ---------------------------------------------------------------------------

HITS_ROUNDS = 2  # the contract: round-2 accounting state, not the fixpoint

GRAPH_HITS_INFLUENCE_ORACLE = """
    WITH e AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    a1 AS MATERIALIZED (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS a FROM e GROUP BY s),
    h1 AS (
        SELECT e.c, CAST(SUM(a1.a) AS BIGINT) AS h
        FROM e JOIN a1 ON e.s = a1.s GROUP BY e.c
    ),
    a2 AS (
        SELECT e.s, CAST(SUM(h1.h) AS BIGINT) AS a
        FROM e JOIN h1 ON e.c = h1.c GROUP BY e.s
    ),
    degs AS (
        SELECT c AS k, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY c
    )
    SELECT node_type, entity_key, degree, score FROM (
        SELECT 'customer' AS node_type, h1.c AS entity_key,
               degs.deg AS degree, h1.h AS score
        FROM h1 JOIN degs ON h1.c = degs.k
        UNION ALL
        SELECT 'supplier', a2.s, a1.a, a2.a
        FROM a2 JOIN a1 ON a2.s = a1.s
    ) ORDER BY score DESC, node_type, entity_key
    """


@query(
    "graph_hits_influence",
    oracle=GRAPH_HITS_INFLUENCE_ORACLE,
    tier="local",
)
def graph_hits_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities over the DIRECTED customer->supplier
    trading graph (an edge per distinct pair that ever traded) — the
    other classic link-analysis centrality next to PageRank, and the
    natural one for BIPARTITE interaction data: hubs (customers) are
    scored by the authority of the suppliers they buy from,
    authorities (suppliers) by the hub mass of their buyers. Two
    ALTERNATING half-rounds from h0 = 1, all-integer and unnormalized:

        a1(s) = in-degree of s            (sum of h0 over buyers)
        h1(c) = sum of a1 over c's suppliers   -> the hub score
        a2(s) = sum of h1 over s's buyers      -> the authority score

    ROUNDS=2 IS THE CONTRACT (the pagerank ROUNDS=3 precedent): exact
    integer sums, no normalization, so the DuckDB unrolled-CTE twin is
    hash-exact and the ordering equals normalized HITS' round-2
    ordering (normalization is a positive scalar per half-round).
    Output: one row per active node — customers carry (out-degree,
    h1), suppliers (in-degree = a1, a2) — ordered by score under a
    deterministic tiebreak.

    Scale shape: the distinct-pair base is one exchange; each
    half-round is one key-hashed join (the node-sized score table onto
    the edge list) followed by a map-side-combinable SUM — the same
    per-round cost envelope as the PageRank kernel, alternating
    between the two key spaces instead of re-keying one. No window, no
    single partition, no floats. Unlike pagerank_fixed_point the
    2-round chain is shallow enough that no checkpoint is needed.
    Scores stay within int64 for any graph with < 2^31 edges per
    authority neighborhood (a1 <= in-degree, h1 <= sum of neighbor
    in-degrees <= E, a2 <= E^2/node — at web scale the standard move
    is per-round max-normalization, the documented upgrade path)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a1 = e.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("a"))
    h1 = (
        e.join(a1, "s")
        .groupBy("c")
        .agg(F.sum("a").cast("long").alias("h"))
    )
    a2 = (
        e.join(h1, "c")
        .groupBy("s")
        .agg(F.sum("h").cast("long").alias("a2"))
    )
    degs = e.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    hubs = h1.join(degs, "c").select(
        F.lit("customer").alias("node_type"),
        F.col("c").alias("entity_key"),
        F.col("deg").alias("degree"),
        F.col("h").alias("score"),
    )
    auths = a2.join(a1, "s").select(
        F.lit("supplier").alias("node_type"),
        F.col("s").alias("entity_key"),
        F.col("a").alias("degree"),
        F.col("a2").alias("score"),
    )
    return hubs.unionByName(auths).orderBy(
        F.desc("score"), "node_type", "entity_key"
    )


# ---------------------------------------------------------------------------
# graph_label_propagation: synchronous LPA community detection over the
# repeat-trade graph.
# ---------------------------------------------------------------------------

LPA_ROUNDS = 2        # THE CONTRACT: round-2 accounting state
LPA_MIN_TRADES = 3    # an edge = pair traded >= 3 line items (kcore base)

_LPA_ROUND_CTE = """
    r{r} AS (
        SELECT e.src AS v, l.lab, COUNT(*) AS c
        FROM e0 e JOIN l{p} l ON e.dst = l.v
        GROUP BY 1, 2
    ),
    l{r} AS (
        SELECT v, lab FROM (
            SELECT v, lab,
                   ROW_NUMBER() OVER (PARTITION BY v
                                      ORDER BY c DESC, lab) AS rn
            FROM r{r}
        ) WHERE rn = 1
    )"""

GRAPH_LABEL_PROPAGATION_ORACLE = (
    """
    WITH base AS MATERIALIZED (
        SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s, COUNT(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    ),
    rep AS MATERIALIZED (SELECT c, s FROM base WHERE n >= {minn}),
    e0 AS MATERIALIZED (
        SELECT c AS src, s AS dst FROM rep
        UNION ALL
        SELECT s AS src, c AS dst FROM rep
    ),
    l0 AS (SELECT DISTINCT src AS v, src AS lab FROM e0),"""
    + ",".join(
        _LPA_ROUND_CTE.format(r=r, p=r - 1) for r in range(1, LPA_ROUNDS + 1)
    )
    + """
    SELECT lab AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(v) AS BIGINT) AS min_member,
           CAST(MAX(v) AS BIGINT) AS max_member
    FROM l{last}
    GROUP BY lab ORDER BY community
    """
).format(minn=LPA_MIN_TRADES, last=LPA_ROUNDS)


@query(
    "graph_label_propagation",
    oracle=GRAPH_LABEL_PROPAGATION_ORACLE,
    tier="local",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous LABEL PROPAGATION (Raghavan 2007) community
    detection over the same repeat-trade graph the k-core peels: every
    node starts as its own label; each round every node adopts the
    label most frequent among its NEIGHBORS, ties broken by the
    SMALLEST label — the deterministic variant (vanilla LPA breaks
    ties randomly; a seeded tie would never hash-match across
    engines). ROUNDS=2 IS THE CONTRACT (the pagerank/HITS precedent):
    the output is the round-2 accounting state, attested bit-for-bit
    by the DuckDB unrolled-CTE twin, not the (order-dependent)
    fixpoint. LPA is a genuinely different iterative kernel from the
    shipped three: mass-free like k-core but GROWING regions like
    components, with a per-round ARGMAX (not sum/threshold/min).

    Scale shape: each round is one edge-sized hash join (node-sized
    label table onto the edge list) + a (node, label)-keyed count that
    folds map-side + a node-keyed struct-max argmax — no window, no
    single partition; ties resolve inside the aggregate via
    max(struct(count, -label)). Round depth is fixed at 2, so no
    checkpoint is needed (the pagerank lineage discipline starts at 3).

    Reference parity: beyond-reference graph surface; shares the
    repeat-trade base (>= LPA_MIN_TRADES line items) with
    graph_kcore_loyalty so the two marts describe the same graph."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    rep = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= LPA_MIN_TRADES)
        .select("c", "s")
    )
    edges = (
        rep.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .unionByName(rep.select(F.col("s").alias("src"), F.col("c").alias("dst")))
        .localCheckpoint()  # feeds l0 + one join per round
    )
    labels = lpa_labels(edges, LPA_ROUNDS)
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("v").cast("long").alias("min_member"),
            F.max("v").cast("long").alias("max_member"),
        )
        .select(
            F.col("community").cast("long").alias("community"),
            "n_members", "min_member", "max_member",
        )
        .orderBy("community")
    )


def lpa_labels(edges: DataFrame, rounds: int) -> DataFrame:
    """Core of graph_label_propagation over any directed (src, dst)
    edge frame (pass both directions for an undirected graph):
    ``rounds`` synchronous most-frequent-neighbor-label updates from
    lab0(v) = v, ties to the SMALLEST label — factored for the
    planted-topology tests (tests/test_graph.py pins the tie rule and
    a genuine round-2 change)."""
    labels = edges.select(F.col("src").alias("v")).distinct().withColumn(
        "lab", F.col("v")
    )
    for _ in range(rounds):
        nbr = edges.join(
            labels.withColumnRenamed("v", "dst"), "dst"
        ).select("src", "lab")
        cnt = nbr.groupBy("src", "lab").agg(F.count(F.lit(1)).alias("c"))
        labels = cnt.groupBy("src").agg(
            F.max(F.struct(F.col("c"), (-F.col("lab")).alias("neg"))).alias("m")
        ).select(F.col("src").alias("v"), (-F.col("m.neg")).alias("lab"))
    return labels


# ---------------------------------------------------------------------------
# graph_bfs_reach: k-hop BFS reachability from the hub node.
# ---------------------------------------------------------------------------

BFS_HOPS = 3          # THE CONTRACT: hop-3 accounting state
BFS_MIN_TRADES = 3    # same repeat-trade edge rule as k-core / LPA


def _bfs_round_cte(r: int) -> str:
    p = r - 1
    seen = " UNION ALL ".join(f"SELECT v FROM f{i}" for i in range(r))
    return f"""
    f{r} AS MATERIALIZED (
        SELECT DISTINCT e.dst AS v
        FROM e0 e JOIN f{p} ON e.src = f{p}.v
        WHERE e.dst NOT IN ({seen})
    )"""


GRAPH_BFS_REACH_ORACLE = (
    """
    WITH base AS MATERIALIZED (
        SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s, COUNT(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    ),
    rep AS MATERIALIZED (SELECT c, s FROM base WHERE n >= {minn}),
    e0 AS MATERIALIZED (
        SELECT c AS src, s AS dst FROM rep
        UNION ALL
        SELECT s AS src, c AS dst FROM rep
    ),
    deg AS MATERIALIZED (
        SELECT src AS v, COUNT(*) AS d FROM e0 GROUP BY src),
    f0 AS MATERIALIZED (SELECT v FROM deg ORDER BY d DESC, v LIMIT 1),"""
    + ",".join(_bfs_round_cte(r) for r in range(1, BFS_HOPS + 1))
    + """
    SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(v) AS BIGINT) AS min_node,
           CAST(MAX(v) AS BIGINT) AS max_node
    FROM ("""
    + " UNION ALL ".join(
        f"SELECT {i} AS dist, v FROM f{i}" for i in range(BFS_HOPS + 1)
    )
    + """)
    GROUP BY dist ORDER BY dist
    """
).format(minn=BFS_MIN_TRADES)


@query("graph_bfs_reach", oracle=GRAPH_BFS_REACH_ORACLE, tier="local")
def graph_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-hop BFS REACHABILITY from the graph's hub: starting at the
    highest-degree node of the repeat-trade graph (deterministic
    tiebreak: smallest id), expand the frontier BFS_HOPS (3) times and
    report each hop ring's size and id range — the ego-network /
    blast-radius question ('how much of the market is within 3 trades
    of the biggest player?'). HOPS=3 IS THE CONTRACT (the
    pagerank/HITS/LPA precedent): the output is the per-ring
    accounting state, attested by a DuckDB unrolled-CTE twin. BFS is
    the fourth iterative graph kernel shipped — FRONTIER EXPANSION
    with a visited-set restriction, where components grow regions,
    k-core shrinks them, and pagerank/HITS/LPA move values.

    Scale shape: the hub pick is a degree aggregate + a 1-row
    TakeOrderedAndProject (broadcast into round 1 — never a collect);
    each hop is one edge-sized hash join (frontier onto src) + a
    DISTINCT + LEFT ANTI joins against the prior rings (keys-only,
    frontier-sized right sides — at web scale the visited set
    broadcast-degrades to shuffle exactly like any growing dim). Ring
    depth is fixed, so lineage stays shallow with no checkpoint."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    rep = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= BFS_MIN_TRADES)
        .select("c", "s")
    )
    edges = (
        rep.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .unionByName(rep.select(F.col("s").alias("src"), F.col("c").alias("dst")))
        .localCheckpoint()  # feeds the degree pick + one join per hop
    )
    hub = (
        edges.groupBy(F.col("src").alias("v"))
        .agg(F.count(F.lit(1)).alias("d"))
        .orderBy(F.desc("d"), F.asc("v"))
        .limit(1)
        .select("v")
    )
    rings = [hub]
    for _ in range(BFS_HOPS):
        frontier = rings[-1]
        nxt = (
            edges.join(
                frontier.withColumnRenamed("v", "src"), "src"
            )
            .select(F.col("dst").alias("v"))
            .distinct()
        )
        for seen in rings:
            nxt = nxt.join(seen, "v", "left_anti")
        rings.append(nxt.localCheckpoint())
    out = None
    for i, ring in enumerate(rings):
        tagged = ring.select(F.lit(i).alias("dist"), "v")
        out = tagged if out is None else out.unionByName(tagged)
    return (
        out.groupBy("dist")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("v").cast("long").alias("min_node"),
            F.max("v").cast("long").alias("max_node"),
        )
        .select(F.col("dist").cast("int").alias("dist"),
                "n_nodes", "min_node", "max_node")
        .orderBy("dist")
    )

"""Iterative graph operators: connected components over an edge list.

The dedup endgame: near-dup PAIRS (MinHash/SimHash/embedding buckets)
are edges; the clusters are connected components; the kept document per
cluster is the component's canonical (minimum) id. Every kernel returns
the same contract: (v, component_id = component minimum) for every
vertex that appears in the edge list, deterministically.

  * ``connected_components`` — min-label propagation. O(component
    diameter) rounds, ONE labels-sized shuffle per round; the cheapest
    distributed kernel when clusters are small and dense (the common
    dedup shape).
  * ``connected_components_star`` — alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14). O(log² n) rounds REGARDLESS of diameter: each round
    rewires every vertex toward its neighborhood minimum, so
    chain-shaped clusters (paraphrase chains A≈B≈C≈…) collapse
    exponentially instead of one hop per round. More shuffles per
    round, so it wins exactly when diameter is the binding constraint:
    one adversarial chain makes a min-label job round-bound.
  * ``connected_components_auto`` — the kernel the registered pipelines
    use. It picks by size:

      - LOCAL: one bounded probe, ``.limit(BOUND + 1).collect()`` over
        the persisted edge frame. A graph of at most ``BOUND`` edges
        with integral, non-NULL endpoints is labelled on the driver by
        a vectorized numpy union-find, and the labels return to the
        plan as an Arrow-built local relation under a broadcast hint.
        The fixture dedup graphs are tens to hundreds of edges (28 in
        the funnel at sf0.01, 645 at sf0.1), where each distributed
        round is a few Spark jobs of fixed overhead: measured on a
        4-core VM (8 shuffle partitions), a warm funnel construction
        ran 13 Spark jobs in ~2.3 s with min-label and runs 6 in
        ~0.9 s with the local path.
        ``BOUND`` (2^16 edges) keeps the collect to a few MiB of driver
        memory.
      - DISTRIBUTED, for everything else: min-label with ESCALATION.
        Run min-label for a bounded number of rounds; if it converges
        (dense dup clusters), that is the whole cost. If the budget
        exhausts (deep/chain-shaped structure), CONTRACT the graph by
        the partial labels and finish with the alternating-star kernel
        on the contracted graph, composing labels with one final join —
        total rounds escalate_after + O(log² n). A
        prepass-then-probe selector was measured and rejected: its extra
        shuffles and driver actions cost more than min-label alone on
        dense graphs.

    tests/test_graph.py pins the routing (local, dense, path), the
    round-count gap, and label equality across all kernels.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
)

# connected_components_auto: min-label round budget before escalating
# to the star kernel. Dense dup-cluster graphs converge in ~3-4 rounds
# (min-label needs O(cluster diameter), and LSH dup clusters are
# near-cliques); 6 leaves margin without letting an adversarial chain
# cost more than a constant number of cheap labels-only rounds before
# the O(log² n) kernel takes over.
AUTO_ESCALATE_AFTER = 6

# connected_components_auto: the largest edge list labelled on the
# driver. The probe holds at most BOUND + 1 Rows (a few MiB) and the
# union-find a handful of int64 arrays of that length.
BOUND = 1 << 16

# narrowest to widest: the local path's output type is the wider of the
# two endpoint types, as the distributed kernels' symmetrize coerces it
_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)


def _symmetrize(edges: DataFrame, src: str, dst: str,
                num_partitions: int | None = None) -> DataFrame:
    """Both-direction edge table (a, b), deduped, PERSISTED
    pre-partitioned on the join key b.

    Persist, not localCheckpoint: LogicalRDD (checkpoint) drops
    outputPartitioning, which would re-shuffle the (large) edge table on
    EVERY iteration of the min-label loop once labels outgrow broadcast;
    a cached repartition("b") keeps the partitioning visible to the
    planner, so each round's sort-merge join exchanges only the labels
    side (verified: the iteration plan carries no ENSURE_REQUIREMENTS
    exchange on b). Symmetrize with ONE pass over the edge pipeline:
    explode each edge into both directions instead of union-ing two
    copies of the (often expensive — LSH) edge plan, which only dedupes
    if ReuseExchange happens to fire. repartition("b") BEFORE
    dropDuplicates lets the dedup's final aggregate reuse that exchange
    (hash(b) satisfies the (a, b) clustering requirement), so
    symmetrize+dedup+partition is a single shuffle of the edge table,
    not two."""
    both = F.array(
        F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
        F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
    )
    e = edges.select(F.explode(both).alias("e")).select("e.a", "e.b")
    # num_partitions: callers size the ONE edge exchange from their
    # source scan (sources/parquet_io.adaptive_partitions) instead of
    # the cluster-constant spark.sql.shuffle.partitions — every
    # propagation round re-reads this cached layout, so a tiny graph
    # frozen at 32 cached partitions pays a full task wave per round
    # for nothing
    e = e.repartition(num_partitions, "b") if num_partitions else e.repartition("b")
    return e.dropDuplicates().persist()


def _minlabel_rounds(
    sym: DataFrame, max_iter: int
) -> tuple[DataFrame, int, bool]:
    """Min-label propagation over a symmetric persisted edge table
    (a, b). Returns (labels(v, lbl), rounds, converged); labels are
    checkpointed, so callers may unpersist ``sym`` afterwards."""
    # Round 1 is FREE: with identity initial labels, one propagation step
    # is label(v) = min(v, min over neighbors b) — a single aggregation
    # over sym, no labels table to join yet. This replaces the
    # labels-init distinct AND the first join round (each a full shuffle
    # + checkpoint at any scale). Symmetric edges guarantee round 1
    # changes some label (every edge's larger endpoint improves), so the
    # convergence probe starts at round 2.
    # Round 1 checkpoints EAGERLY and its job doubles as the edge
    # cache's materialization: one job computes the possibly-expensive
    # edge pipeline, fills sym's cache, and aggregates the first labels.
    labels = (
        sym.groupBy("a")
        .agg(F.least(F.col("a"), F.min("b")).alias("lbl"))
        .select(F.col("a").alias("v"), "lbl")
        .localCheckpoint()
    )
    rounds, converged = 1, False
    for _ in range(max_iter - 1):
        rounds += 1
        # shuffle-hash, build side = the node-sized labels table: sym is
        # persisted pre-partitioned on b, so the join must neither
        # re-exchange nor (as the default sort-merge plan would, labels
        # being an unknown-stat checkpointed RDD) re-SORT the edge table
        # every round.
        nbr_min = (
            sym.join(labels.hint("shuffle_hash"), sym["b"] == labels["v"])
            .select(F.col("a").alias("v"), "lbl")
        )
        # The convergence flag rides the SAME aggregation that computes
        # the new labels (own=true tags each vertex's previous label, so
        # min(lbl) < min(lbl where own) == "this vertex improved") —
        # one shuffle per round, instead of a separate
        # join-against-old-labels action that re-shuffled both sides
        # just to count changes. Checkpoints are LAZY: the
        # convergence probe below is the round's one driver action and
        # its job doubles as the checkpoint materialization — the old
        # eager checkpoint + probe pair cost two jobs per round.
        merged = (
            labels.select("v", "lbl", F.lit(True).alias("own"))
            .unionByName(nbr_min.select("v", "lbl", F.lit(False).alias("own")))
            .groupBy("v")
            .agg(
                F.min("lbl").alias("lbl"),
                (F.min("lbl") < F.min(F.when(F.col("own"), F.col("lbl"))))
                .alias("chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = merged.agg(F.max("chg")).first()[0]
        labels = merged.select("v", "lbl")
        if not changed:
            converged = True
            break
    return labels, rounds, converged


def connected_components(
    edges: DataFrame, src: str, dst: str, max_iter: int = 50,
    stats: dict | None = None, num_partitions: int | None = None,
) -> DataFrame:
    """Component id (= minimum vertex id) for every vertex that appears
    in ``edges``. Returns (v, component_id). Deterministic: min-labels
    are order-independent. On max_iter exhaustion it returns the (still
    consistent, but unconverged) partial labels — callers that must not
    tolerate that should use ``connected_components_auto`` or the star
    kernel, which fail loudly instead."""
    sym = _symmetrize(edges, src, dst, num_partitions)
    try:
        # _minlabel_rounds' eager round-1 job computes the (possibly
        # expensive) edge pipeline once and fills the cache
        labels, rounds, _ = _minlabel_rounds(sym, max_iter)
    finally:
        # labels is checkpointed — safe to drop the edge cache, on the
        # error path too (no cache leak when a round throws)
        sym.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select("v", F.col("lbl").alias("component_id"))


def _canonicalize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical (hi, lo) orientation of the edge table, deduped,
    PERSISTED pre-partitioned on hi — ONE shuffle, one pass over the
    (possibly expensive) upstream edge plan.

    repartition BEFORE dropDuplicates: hash(hi) satisfies the dedup
    aggregate's (hi, lo) clustering requirement, so
    canonicalize+dedup+partition is ONE shuffle — the min-label
    kernel's fusion trick — and the small-star prepass below can group
    and join on hi with no further exchange."""
    return (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
            F.least(F.col(src), F.col(dst)).alias("lo"),
        )
        .repartition("hi")
        .dropDuplicates()
        .persist()
    )


def _small_star_plan(canon: DataFrame) -> DataFrame:
    """The small-star prepass PLAN over a canonicalized (hi, lo) edge
    table: collapses every hi-group onto its minimum. Riding canon's
    hash(hi) layout, the groupBy(hi) and join(hi) add NO new exchange —
    only the final (hi, lo) dedup shuffles (plan-pinned in
    tests/test_graph.py::test_star_prepass_reuses_canon_exchange, which
    builds its plan through THIS function so the pin cannot drift from
    the kernel)."""
    e0 = canon.filter(F.col("hi") != F.col("lo"))
    mins0 = e0.groupBy("hi").agg(F.min("lo").alias("m"))
    return (
        e0.join(mins0, "hi")
        .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
        .unionByName(mins0.select("hi", F.col("m").alias("lo")))
        .filter(F.col("hi") != F.col("lo"))
        .dropDuplicates()
    )


def _small_star_prepass(canon: DataFrame) -> DataFrame:
    """Checkpointed small-star prepass. On dense dup-cluster graphs this
    does most of the collapse before any full round. The checkpoint is
    the first action and materializes canon's cache as a side effect;
    canon stays persisted for the final self-loop probe."""
    return _small_star_plan(canon).localCheckpoint()


def _star_rounds(
    e: DataFrame, n_old: int, max_iter: int
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star rounds from a checkpointed
    (hi, lo) edge set until fixed point. Returns (final edge set,
    rounds); raises on max_iter exhaustion (a non-star-forest edge set
    would emit conflicting labels — silent corruption)."""
    rounds = 0
    stable = n_old == 0  # nothing to collapse: the empty set is final
    for _ in range(max_iter):
        if stable:
            break
        rounds += 1
        # ---- large-star ----
        sym = (
            e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
            .unionByName(e.select(F.col("lo").alias("u"), F.col("hi").alias("v")))
            .repartition("u")
        )
        mins = sym.groupBy("u").agg(F.least(F.col("u"), F.min("v")).alias("m"))
        # NO dedup here: large-star emits exactly one row per edge
        # (each (u,v), v>u, appears in exactly one group), so this is
        # |E| rows — coincident rewires are collapsed by the round's
        # single dedup after small-star, saving one full shuffle/round.
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
        )
        # ---- small-star (input invariant: hi > lo ≥ m) ----
        g = large.repartition("hi")
        mins2 = g.groupBy("hi").agg(F.min("lo").alias("m"))
        small = (
            g.join(mins2, "hi")
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .unionByName(mins2.select("hi", F.col("m").alias("lo")))
            .filter(F.col("hi") != F.col("lo"))
            .dropDuplicates()
            .localCheckpoint()
        )
        n_new = small.count()
        # Convergence probe: count + (only when counts tie) a keys-only
        # anti-join second action. Riding an own/new flag through the
        # small-star dedup aggregation, as the min-label kernel does,
        # would union the previous edge set into every round's dedup
        # shuffle (doubling that exchange's input on EVERY round) to
        # save one keys-only action that fires on the terminal round
        # only.
        stable = n_new == 0 or (
            n_new == n_old
            and small.join(e, ["hi", "lo"], "left_anti").isEmpty()
        )
        e, n_old = small, n_new
        if stable:
            break
    if not stable:
        # Unlike min-label (which degrades to one consistent unconverged
        # label per vertex), a non-star-forest edge set would emit
        # MULTIPLE conflicting (v, component_id) rows — silent
        # corruption. O(log² n) rounds means max_iter=30 covers any
        # physical graph; hitting it is a bug or a wrong max_iter, so
        # fail loudly instead of returning wrong labels.
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            f"rounds ({n_old} edges remaining); raise max_iter"
        )
    return e, rounds


def _star_labels(e: DataFrame, canon: DataFrame) -> DataFrame:
    """(v, component_id) from a fixed-point star forest ``e`` plus the
    self-loop-only singletons recorded in ``canon``. Checkpoints the
    (tiny) singleton set so the caller may unpersist canon."""
    # fixed point = star forest: hi's are non-minimum members (exactly
    # one lo each), lo's are the component minima
    labels = e.select(F.col("hi").alias("v"), F.col("lo").alias("component_id"))
    roots = (
        e.select(F.col("lo").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("component_id"))
    )
    self_only = (
        canon.filter(F.col("hi") == F.col("lo"))
        .select(F.col("hi").alias("v"))
        .join(e.select(F.col("hi").alias("v"))
              .unionByName(e.select(F.col("lo").alias("v"))).distinct(),
              "v", "left_anti")
        .select("v", F.col("v").alias("component_id"))
        .localCheckpoint()  # tiny; lets canon's cache be released now
    )
    return labels.unionByName(roots).unionByName(self_only)


def connected_components_star(
    edges: DataFrame, src: str, dst: str, max_iter: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al. SoCC'14, Algorithms 3-4). Same contract as
    ``connected_components``: (v, component_id = component minimum) for
    every vertex appearing in ``edges``; deterministic.

    Round = one large-star then one small-star, each a grouped
    aggregation + co-partitioned join + dedup over the edge set:

      large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u),
                     v > u — larger neighbors rewire to the minimum;
      small-star(u): over edges oriented (hi > lo), grouped by hi:
                     m = min(N≤(u) ∪ {u}); emit (v, m) for every
                     v ∈ N≤(u) ∪ {u} \\ {m} — smaller neighbors and u
                     itself collapse onto the minimum.

    Both preserve connectivity; the fixed point is a star forest whose
    centers are the component minima, reached in O(log² n) rounds on
    any graph (≈log n in practice) — the chain graphs that make
    min-label propagation O(n)-round collapse exponentially here.

    Scale shape: a small-star PREPASS rides the canonicalize+dedup
    exchange (hash(hi) feeds dedup, group-by, and join alike), doing
    the bulk of the collapse on dense dup-cluster graphs before the
    first full round. Per round: edges symmetrize with one union (no
    double-execution of the upstream — often LSH — edge plan past the
    initial persist), the group-by and its join share one exchange
    (repartition on the group key feeds both), dedups are edge-key
    hash aggregations, and convergence is a count + keys-only
    anti-join on checkpointed edge sets (the only extra action; edge
    tables shrink toward |V| as stars form). Lineage is truncated by
    ``localCheckpoint`` every round, as in the min-label kernel."""
    canon = _canonicalize(edges, src, dst)
    try:
        e = _small_star_prepass(canon)
        # counting the checkpointed prepass output is one ~cached-scan
        # job; skipping it would cost a FULL confirmation round whenever
        # the prepass alone already reached the fixed point (round 1
        # could not conclude set-equality without |e|)
        n0 = e.count()
        e, rounds = _star_rounds(e, n0, max_iter)
        out = _star_labels(e, canon)
    finally:
        # _star_labels checkpoints everything derived from canon, so the
        # cache is releasable on success AND on the raise path (the
        # non-convergence RuntimeError must not leak the persisted
        # canonical edge table)
        canon.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
    return out


def _local_labels(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(vertices, component minimum) of the edge list (a[i], b[i]).

    Vectorized union-find over compressed ids: np.unique sorts the
    vertex ids, so the minimum compressed id of a component is its
    minimum vertex. Each pass hooks the larger root of every edge onto
    the smaller one and then pointer-jumps every vertex to its root; it
    stops when every edge joins two vertices of one root. A parent
    never exceeds its child, so no cycle forms and each final root is
    its component's minimum."""
    verts, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = idx[: len(a)], idx[len(a):]
    parent = np.arange(len(verts))
    while True:
        ra, rb = parent[ia], parent[ib]
        if np.array_equal(ra, rb):
            return verts, verts[parent]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def _local_components(pairs: DataFrame) -> DataFrame | None:
    """The local path of ``connected_components_auto``: labels for the
    (a, b) frame ``pairs`` computed on the driver, or None when the
    graph must go to the distributed kernels — more than BOUND edges, a
    non-integral endpoint type, or a NULL endpoint. ``pairs`` must be
    persisted: the probe and a distributed fallback then share one run
    of the upstream edge plan."""
    import pyarrow as pa

    types = [f.dataType for f in pairs.schema]
    if not all(isinstance(t, _INTEGRAL) for t in types):
        return None
    head = pairs.limit(BOUND + 1).collect()
    if len(head) > BOUND:
        return None
    try:
        ab = np.array(head, dtype=np.int64).reshape(-1, 2)
    except TypeError:  # int(None): a NULL endpoint
        return None
    verts, cid = _local_labels(ab[:, 0], ab[:, 1])
    vtype = max(types, key=lambda t: _INTEGRAL.index(type(t)))
    # the distributed kernels' schema: v keeps the endpoints'
    # nullability, component_id is a min() aggregate (nullable)
    schema = StructType([
        StructField("v", vtype, any(f.nullable for f in pairs.schema)),
        StructField("component_id", vtype, True),
    ])
    # Arrow-built, so Spark makes a LocalRelation with known size; a
    # frame built from a Python list is an RDD scan of unknown size,
    # which plans sort-merge joins with two extra exchanges downstream
    table = pa.table({"v": verts, "component_id": cid})
    return F.broadcast(pairs.sparkSession.createDataFrame(table, schema))


def connected_components_auto(
    edges: DataFrame, src: str, dst: str, max_iter: int = 30,
    stats: dict | None = None, escalate_after: int = AUTO_ESCALATE_AFTER,
    num_partitions: Callable[[], int] | None = None,
) -> DataFrame:
    """Connected components, kernel chosen by graph size: same
    (v, component_id = component minimum) contract and determinism as
    the other kernels.

    Local path — a graph of at most ``BOUND`` edges with integral,
    non-NULL endpoints is labelled on the driver after one bounded
    probe (``_local_components``); no Spark round runs.

    Distributed path, phase 1 — min-label, ``escalate_after`` rounds
    max: on dense dup-cluster graphs (the near-clique shape LSH
    candidate pairs produce) min-label converges in ~3-4 rounds of ONE
    labels-sized shuffle + ONE action each, and phase 1 is the entire
    cost: identical to ``connected_components``.

    Phase 2 — escalation, only if phase 1's budget exhausts (deep or
    chain-shaped structure): CONTRACT the graph by the partial labels
    — map each edge (a, b) to (label(a), label(b)), drop self-edges.
    Any label is a vertex of the same component and the component
    minimum labels itself, so contraction preserves the component
    structure and minima exactly; partial clustering from phase 1
    shrinks the edge set (on a pure path it is a harmless relabeling).
    Run the alternating-star kernel on the contracted graph — total
    rounds ≤ escalate_after + O(log² n) — and compose with one final
    left join: component(v) = star_label(ml_label(v)), falling back to
    ml_label(v) for labels whose contracted vertex became isolated.

    Non-convergence of the star phase raises (inherited from
    ``_star_rounds``) — the registered pipelines never see silent
    partial labels. stats (optional): rounds (Spark rounds, total
    across phases; 0 on the local path), kernel ("local" | "minlabel"
    | "minlabel+star"), star_rounds. num_partitions (optional) returns
    the edge exchange's width; it is called only on the distributed
    path, so the local path skips whatever scan sizes it."""
    pairs = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).persist()
    try:
        out = _local_components(pairs)
        if out is not None:
            kernel, rounds, star_rounds = "local", 0, 0
        else:
            out, rounds, kernel, star_rounds = _auto_distributed(
                pairs, max_iter, escalate_after, num_partitions
            )
    finally:
        # the local labels are driver data and the distributed ones are
        # checkpointed: nothing returned reads the edge cache
        pairs.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
        stats["kernel"] = kernel
        stats["star_rounds"] = star_rounds
    return out


def _auto_distributed(
    pairs: DataFrame, max_iter: int, escalate_after: int,
    num_partitions: Callable[[], int] | None,
) -> tuple[DataFrame, int, str, int]:
    """The distributed path of ``connected_components_auto`` over the
    (a, b) frame ``pairs``: (labels, rounds, kernel, star_rounds)."""
    sym = _symmetrize(pairs, "a", "b", num_partitions and num_partitions())
    try:
        labels, rounds, converged = _minlabel_rounds(sym, escalate_after)
        kernel, star_rounds = "minlabel", 0
        out = labels.select("v", F.col("lbl").alias("component_id"))
        if converged:
            return out, rounds, kernel, star_rounds
        la = labels.select(F.col("v").alias("a"), F.col("lbl").alias("ca"))
        lb = labels.select(F.col("v").alias("b"), F.col("lbl").alias("cb"))
        contracted = (
            sym.join(la, "a")
            .join(lb, "b")
            .select("ca", "cb")
            .filter(F.col("ca") != F.col("cb"))
        )
        # A fixed point reached exactly on round escalate_after is not
        # OBSERVED as converged, but then every edge joins same-label
        # vertices and the contraction is empty: the labels are already
        # exact (labels closed under edges ⇒ one label per component,
        # and the member labelling itself is the minimum). One keys-only
        # probe is cheaper than the star kernel's persist, prepass and
        # per-round actions over zero edges.
        if contracted.isEmpty():
            return out, rounds, kernel, star_rounds
        sub: dict = {}
        # the star kernel materializes eagerly (prepass and per-round
        # checkpoints), so nothing returned references sym afterwards
        star = connected_components_star(contracted, "ca", "cb", max_iter, stats=sub)
        star_rounds = sub["rounds"]
        out = labels.join(
            star.select(
                F.col("v").alias("lbl"), F.col("component_id").alias("star_cid")
            ),
            "lbl",
            "left",
        ).select("v", F.coalesce("star_cid", "lbl").alias("component_id"))
        return out, rounds + star_rounds, "minlabel+star", star_rounds
    finally:
        sym.unpersist()


PAGERANK_SCALE = 1_000_000  # fixed-point unit: rank 1.0 == 1e6


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    tol: int | None = None,
    max_iters: int = 50,
    stats: dict | None = None,
    dedup: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Integer fixed-point PageRank over a DIRECTED edge table, damping
    0.85. Returns (v, rank, deg) for every node that has at least one
    outgoing edge (callers wanting undirected influence symmetrize
    first — then that is every node).

    Stopping contract (two modes, explicit):

    * ``tol=None`` (default): EXACTLY ``iters`` power-iteration
      rounds. This is an ACCOUNTING shape, not converged centrality —
      it exists so a SQL oracle can reproduce the longs bit-for-bit by
      unrolling the same number of rounds as CTEs. Round-``iters``
      ranks can differ from the fixpoint (a test pins a graph where
      they do); callers wanting converged ranks use ``tol``.
    * ``tol=k`` (integer rank units, 1 unit = 1e-6 mass): iterate
      until the residual max|Δrank| <= k or ``max_iters``, whichever
      first. The residual rides one bounded ``.first()`` probe per
      round on the node-sized join of consecutive rank tables — the
      same convergence-flag pattern as the components kernels, O(1)
      driver data. Convergence is guaranteed: damping contracts the
      residual ~0.85x/round and the integer truncation only shrinks
      it further, so max|Δ| reaches any positive tol in
      O(log(n·SCALE)/log(1/0.85)) rounds. ``stats`` (if given) gets
      ``rounds`` and final ``residual``.

    Exactness contract: ranks are scaled longs (PAGERANK_SCALE = 1e6
    per unit mass) and every step is integer arithmetic — contribution
    is ``rank DIV out_degree``, damping is ``(85 * sum) DIV 100`` —
    so partial-aggregation order can never move a result and a
    single-threaded SQL oracle reproduces the longs bit-for-bit. (The
    float formulation sums per-edge doubles whose order differs across
    engines and partitionings; after 3 rounds the error concentrates
    exactly at ROUND boundaries. The DIV truncation loses < 1 unit in
    1e6 per step — irrelevant for the ordering/weighting PageRank is
    used for, and a price worth paying for a hash-exact contract.)

    Overflow envelope: total mass is
    conserved at ~n * SCALE, so the binding step is not the per-node
    long SUM (which wraps past ~9.2e12 nodes) but the ``85 * sum``
    damping multiply applied to it — in the degenerate
    all-edges-into-one-node worst case the incoming sum approaches the
    full conserved mass and the multiply wraps ~85x earlier, at
    ~1.1e11 nodes (2^63 / (85 * SCALE)). Still an order of magnitude
    beyond any real corpus graph (full Common Crawl is ~10^10 nodes,
    and its max in-degree mass is nowhere near the conserved total),
    so the integer formulation holds; past that, drop SCALE to 1e5 or
    compute ``sum DIV 20 * 17`` to reclaim the headroom.

    Scale shape (the web-graph quality-weighting loop, e.g. Common
    Crawl harmonic/PageRank centrality for pretraining-data source
    weighting): the edge table pays ONE hash(src) exchange, is
    PERSISTED, and both the degree aggregate and every round's join
    ride that partitioning; ``deg`` travels inside the rank frame so
    the per-edge contribution is a projection, not a join. Each round
    is then one shuffled-hash join of the persisted edges against the
    node-sized contrib table (build side = contrib — the edge table is
    never sorted or re-exchanged), one dst-keyed aggregation (the
    round's only full exchange), and one node-sized deg join — no
    driver-side state. In the fixed-``iters`` accounting mode the
    rounds UNROLL into one lazy plan (zero per-round driver actions;
    depth is linear in ``iters``, checkpointed every 8 rounds for
    callers that ask for many); the ``tol`` mode checkpoints each round
    lazily so the residual probe's job doubles as the round's
    materialization — one job per round either way."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if tol is not None and tol < 1:
        raise ValueError(f"tol must be >= 1 rank unit, got {tol}")
    # ONE kernel-owned exchange: hash(src) both feeds the degree
    # aggregate (clustering satisfied — no second exchange) and
    # co-partitions the edge table with every round's contrib/rank
    # frames (all keyed on the same 32/shuffle-partition hash of the
    # vertex id), so no round re-exchanges or re-sorts the edges, and
    # the edge pipeline executes once, not once per consumer subtree.
    sym = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # num_partitions: sized from the caller's source scan
    # (adaptive_partitions) — see _symmetrize's rationale
    sym = (
        sym.repartition(num_partitions, "src")
        if num_partitions
        else sym.repartition("src")
    )
    if dedup:
        # edge-set callers fold their distinct into the kernel's
        # exchange: hash(src) co-locates every (src, dst) duplicate, so
        # the dedup aggregate rides the same shuffle (the _symmetrize
        # fusion trick) instead of paying a separate (src, dst)-keyed
        # exchange upstream. Multigraph callers leave this off — degree
        # and contribution then count parallel edges, as before.
        sym = sym.dropDuplicates()
    sym = sym.persist()
    deg = (
        sym.groupBy(F.col("src").alias("v"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .persist()
    )
    rounds = 0
    residual: int | None = None
    teleport = (15 * PAGERANK_SCALE) // 100
    # materialize both caches eagerly so the unrolled plan's concurrent
    # stages never race to compute them twice; deg's count rides the
    # already-cached sym
    sym.count()
    deg.count()

    def one_round(ranks: DataFrame) -> DataFrame:
        # contrib is a PROJECTION (deg rides inside the rank frame), so
        # a round is: one shuffled-hash join of the persisted edges
        # against the node-sized contrib table (build side = contrib —
        # no sort of the edge table), one dst-keyed
        # partial+final aggregate (the round's only full exchange), and
        # one node-sized left join back onto deg for teleport-mass
        # retention. LEFT join from the node set, not the bare
        # aggregate: a node with out-edges but no in-contributions this
        # round (directed graphs) must KEEP its teleport-mass rank row —
        # dropping it would silently remove it from the output and stop
        # its mass feeding later rounds.
        contrib = ranks.select(
            F.col("v").alias("src"), F.expr("rank DIV deg").alias("contrib")
        )
        incoming = (
            sym.join(contrib.hint("shuffle_hash"), "src")
            .select(F.col("dst").alias("v"), "contrib")
            .groupBy("v")
            .agg(F.sum("contrib").alias("c"))
        )
        return deg.join(incoming.hint("shuffle_hash"), "v", "left").select(
            "v",
            (
                F.lit(teleport) + F.expr("85 * coalesce(c, 0L) DIV 100")
            ).cast("long").alias("rank"),
            "deg",
        )

    ranks = deg.select(
        "v", F.lit(PAGERANK_SCALE).cast("long").alias("rank"), "deg"
    )
    if tol is None:
        # Fixed-round accounting mode: the rounds UNROLL into one lazy
        # plan — zero per-round driver actions, the whole power
        # iteration is a single job at action time (plan depth is
        # O(iters), linear — each round references the previous rank
        # frame once). A checkpoint every 8 rounds bounds analyzer cost
        # for callers that ask for many rounds; the registered query's
        # 3 rounds never checkpoint. One eager checkpoint of the FINAL
        # node-sized rank table lets the kernel release the edge cache
        # before returning (no persist leak across bench runs).
        for i in range(iters):
            ranks = one_round(ranks)
            if (i + 1) % 8 == 0 and (i + 1) < iters:
                ranks = ranks.localCheckpoint()
        rounds = iters
        ranks = ranks.localCheckpoint()
        sym.unpersist()
        deg.unpersist()
    else:
        # Residual-stop mode: the per-round probe is a driver action, so
        # each round checkpoints LAZILY and the probe's job materializes
        # it — one job per round instead of the old eager-checkpoint +
        # probe pair.
        try:
            for _ in range(max_iters):
                new_ranks = one_round(ranks).localCheckpoint(eager=False)
                rounds += 1
                # bounded probe: one scalar row per round (CC pattern)
                residual = (
                    new_ranks.alias("n")
                    .join(ranks.alias("o"), "v")
                    .agg(
                        F.max(
                            F.abs(F.col("n.rank") - F.col("o.rank"))
                        ).alias("r")
                    )
                    .first()["r"]
                )
                ranks = new_ranks
                if residual is not None and residual <= tol:
                    break
        finally:
            sym.unpersist()
            deg.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
        stats["residual"] = residual
    return ranks.select("v", "rank", "deg")


def triangle_counts(edges: DataFrame, x: str = "x", y: str = "y") -> DataFrame:
    """Per-vertex triangle counts over an UNDIRECTED simple graph given
    as canonical distinct edges (``x < y``, no duplicates — the
    caller's contract; a duplicated or mirrored edge would double-count
    every triangle it closes). Returns (v, degree, triangles) for
    EVERY vertex, triangle-free vertices included with triangles = 0.

    Algorithm: degree orientation (Cohen's MapReduce triangle
    enumeration / the GraphX ``TriangleCount`` shape). Each undirected
    edge is oriented from its lower endpoint to its higher endpoint
    under the total order (degree, id); every triangle then has
    exactly ONE vertex with oriented edges to the other two (its
    minimum under that order), so enumerating oriented wedges
    (u -> v, u -> w with v < w by id) and closing them against the
    canonical edge set counts each triangle exactly once — no
    per-triangle dedup pass.

    Why orientation matters at 100 TB: the wedge join is the whole
    cost, and its size is sum(outdeg(u)^2). Unoriented, a single
    degree-D hub contributes D^2 wedges (the classic skew blow-up);
    degree orientation caps every outdeg at O(sqrt(m)) (a vertex only
    points at HIGHER-degree neighbors, and there can be at most
    2*sqrt(m) vertices of degree >= sqrt(m)), so the intermediate is
    O(m^1.5) on ANY degree distribution — the hub's wedges land on its
    low-degree neighbors instead. Only 8-byte vertex ids ride the
    three shuffles (degree count, wedge self-join, closing join);
    payload columns never enter the kernel.

    Exactness: counts are integers; the output is a pure function of
    the edge SET, independent of partitioning and of the orientation
    tie-break (triangle totals do not depend on which vertex pivots),
    so a SQL twin using plain id-orientation attests these longs
    bit-for-bit."""
    canon = edges.select(F.col(x).alias("x"), F.col(y).alias("y"))
    both = canon.select(F.col("x").alias("v")).unionAll(
        canon.select(F.col("y").alias("v"))
    )
    deg = (
        both.groupBy("v")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint()
    )
    # orient under (degree, id): struct comparison gives the total order
    keyed = (
        canon.join(deg.select(F.col("v").alias("x"),
                              F.col("degree").alias("dx")), "x")
        .join(deg.select(F.col("v").alias("y"),
                         F.col("degree").alias("dy")), "y")
    )
    lo_first = F.struct("dx", "x") < F.struct("dy", "y")
    oriented = keyed.select(
        F.when(lo_first, F.col("x")).otherwise(F.col("y")).alias("src"),
        F.when(lo_first, F.col("y")).otherwise(F.col("x")).alias("dst"),
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src"))
        & (F.col("e1.dst") < F.col("e2.dst")),
    ).select(
        F.col("e1.src").alias("u"),
        F.col("e1.dst").alias("v1"),
        F.col("e2.dst").alias("v2"),
    )
    # closing edge: v1 < v2 by construction, so the canonical form of
    # the missing side is exactly (x = v1, y = v2)
    tri = wedges.join(
        canon,
        (F.col("v1") == F.col("x")) & (F.col("v2") == F.col("y")),
    ).select("u", "v1", "v2")
    per_node = (
        tri.select(
            F.explode(F.array("u", "v1", "v2")).alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    return (
        deg.join(per_node, "v", "left")
        .select(
            "v",
            F.col("degree").cast("long").alias("degree"),
            F.coalesce("triangles", F.lit(0).cast("long")).alias("triangles"),
        )
    )


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-round k-core peeling over a symmetrized edge table:
    ``rounds`` iterations of "drop every node with current degree < k,
    restrict edges to surviving endpoints". Returns (v, deg) for the
    nodes still standing, with deg measured in the SURVIVING subgraph
    — the round-``rounds`` accounting state, same contract family as
    ``pagerank_fixed_point(iters=...)``: a fixed round count is what
    lets a SQL oracle unroll the identical peel as chained CTEs and
    attest the longs bit-for-bit (the converged core needs
    degree-stable iteration the oracle cannot express finitely).

    Peeling CASCADES — removing a node can push a neighbor below k in
    the next round (tests plant a chain where round 2 peels what
    round 1 exposed) — which is exactly why the one-shot "filter by
    initial degree" shortcut is wrong.

    Scale shape: each round is one degree aggregate (map-side
    combinable) plus two LEFT SEMI joins restricting the edge table by
    the shrinking keep-set; edges only ever shrink, so per-round cost
    is monotonically decreasing. Every round's frames are eagerly
    localCheckpoint()ed — the lineage discipline shared by all
    iterative kernels in this module (a stacked plan would grow one
    join-pair deeper per round)."""
    if k < 1 or rounds < 1:
        raise ValueError(f"need k >= 1 and rounds >= 1, got {k}, {rounds}")
    e = edges.select(src, dst).localCheckpoint()
    for _ in range(rounds):
        keep = (
            e.groupBy(F.col(src).alias("v"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("v")
            .localCheckpoint()
        )
        e = (
            e.join(
                keep.select(F.col("v").alias(src)), src, "left_semi"
            )
            .join(
                keep.select(F.col("v").alias(dst)), dst, "left_semi"
            )
            .localCheckpoint()
        )
    return e.groupBy(F.col(src).alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )

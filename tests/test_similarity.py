"""Non-vacuous evidence for the embedding near-dup bander (r3 VERDICT
item 3): the sf0.01 fixture has no cosine-0.9 pairs, so the driver's
green row for sim_near_dup_pairs is an empty=empty match. These tests
feed sign_band_near_pairs corpora where the answer is KNOWN — a
degenerate all-identical corpus (cap math must bound the blowup, stats
must account the truncation) and a synthetic corpus with planted
near-dups (the pair must come out through the bands; a band-colliding
but dissimilar pair must be filtered by the exact verify)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

from erathia_market_etl_spark.operators.dedup import lsh_bucket_stats
from erathia_market_etl_spark.operators.similarity import (
    sign_band_near_pairs,
    sign_band_table,
)

_EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)

DIM = 64  # fixture dimensionality; bands read the first 32


@pytest.fixture(scope="module")
def degenerate_emb(spark):
    """2000 copies of one vector: every band collapses to ONE bucket."""
    vec = F.array(*[F.lit(float(d % 7 - 3) or 1.0).cast("float") for d in range(DIM)])
    return spark.range(2_000).select(F.col("id").alias("vec_id"), vec.alias("embedding"))


def test_sign_band_cap_bounds_degenerate_corpus(degenerate_emb):
    # identical vectors: all 4 bands collide, cap keeps the 16 lowest
    # ids in each, so the distinct pair set is exactly C(16,2) — never
    # the C(2000,2) single-task explosion the cap exists to prevent
    pairs = sign_band_near_pairs(degenerate_emb, threshold=0.9, max_bucket=16)
    rows = pairs.collect()
    assert len(rows) == 16 * 15 // 2
    assert all(r["cosine_sim"] == 1.0 for r in rows)
    assert all(r["vec_a"] < 16 and r["vec_b"] < 16 for r in rows)


def test_sign_band_stats_report_overflow(degenerate_emb):
    stats = lsh_bucket_stats(
        sign_band_table(degenerate_emb), ["band_idx", "band_key"], max_bucket=16
    ).collect()
    assert len(stats) == 4  # one row per band
    for r in stats:
        assert r["n_buckets"] == 1
        assert r["max_bucket_size"] == 2_000
        assert r["n_overflow_buckets"] == 1
        assert r["n_dropped_members"] == 2_000 - 16


@pytest.fixture(scope="module")
def planted_emb(spark):
    """Deterministic corpus with known geometry:
      0: base vector (all positive)
      1: base + tiny perturbation        -> cosine ≈ 0.9999 (near-dup)
      2: positive on dims 0..51, negative after -> collides with 0 in
         all 4 bands (first 32 dims positive) but cosine ≈ 0.47
      3: alternating signs               -> different band keys
      4: all negative                    -> different band keys
    """
    base = [1.0 + 0.01 * d for d in range(DIM)]
    near = list(base)
    near[40] = base[40] * 0.5  # same sign, small magnitude change
    half = [v if d < 52 else -v for d, v in enumerate(base)]
    alt = [v * (1 if d % 2 == 0 else -1) for d, v in enumerate(base)]
    neg = [-v for v in base]
    rows = [(i, [float(x) for x in vec]) for i, vec in
            enumerate([base, near, half, alt, neg])]
    return rows


def _pairs(spark, rows, threshold):
    df = spark.createDataFrame(rows, _EMB_SCHEMA)
    return {
        (r["vec_a"], r["vec_b"]): r["cosine_sim"]
        for r in sign_band_near_pairs(df, threshold=threshold).collect()
    }


def test_planted_near_dup_found_through_bands(spark, planted_emb):
    found = _pairs(spark, planted_emb, threshold=0.9)
    assert set(found) == {(0, 1)}  # the planted pair, nothing else
    assert found[(0, 1)] >= 0.99


def test_band_collision_filtered_by_exact_verify(spark, planted_emb):
    # (0, 2) collides in every band (first 32 dims share signs) but the
    # exact cosine is ~0.47 — the verify stage must drop it at 0.9 and
    # emit it at 0.4 (the sim_similar_pairs threshold)
    found = _pairs(spark, planted_emb, threshold=0.4)
    assert (0, 2) in found
    assert 0.4 <= found[(0, 2)] <= 0.6
    assert (0, 1) in found  # still there at the looser threshold
    # band-key-disjoint vectors never become candidates regardless of
    # threshold: (3, x) and (4, x) pairs are absent even at 0.4
    assert all(3 not in p and 4 not in p for p in found)


def test_sim_similar_pairs_nonvacuous_at_fixture(spark):
    """The registered driver query must emit rows on the real sf0.001
    fixture — this is the non-vacuity guarantee the 0.9 near-dup query
    cannot give on random embeddings."""
    from erathia_market_etl_spark.plans import all_queries

    from .conftest import SF_SMOKE

    out = all_queries()["sim_similar_pairs"](spark, SF_SMOKE).collect()
    assert len(out) > 0
    assert all(r["cosine_sim"] >= 0.4 for r in out)


# -- sampled k-means centroids (the production IVF path) ---------------------

@pytest.fixture(scope="module")
def clustered_emb(spark):
    """Three well-separated clusters of 50 vectors each: cluster c lives
    on axis block c (dims 8c..8c+7 dominant), small deterministic jitter."""
    rows = []
    for c in range(3):
        for i in range(50):
            vec = [0.01 * ((i * 7 + d) % 5) for d in range(DIM)]
            for d in range(8 * c, 8 * c + 8):
                vec[d] += 10.0
            rows.append((c * 50 + i, [float(x) for x in vec]))
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")


def test_kmeans_recovers_separated_clusters(spark, clustered_emb):
    from erathia_market_etl_spark.operators.similarity import (
        assign_cells,
        kmeans_centroids,
    )

    cents = kmeans_centroids(clustered_emb, k=3, iters=10)
    assert len(cents) == 3 and all(len(c) == DIM for c in cents)
    # deterministic: same inputs -> identical centroids
    assert cents == kmeans_centroids(clustered_emb, k=3, iters=10)

    out = assign_cells(spark, clustered_emb, cents).collect()
    assert len(out) == 150
    # every true cluster maps to exactly one cell, bijectively
    cell_of = {}
    for r in out:
        cell_of.setdefault(r["vec_id"] // 50, set()).add(r["cid"])
    assert all(len(cells) == 1 for cells in cell_of.values())
    assert len({next(iter(c)) for c in cell_of.values()}) == 3


def test_assign_cells_plan_is_narrow(spark, clustered_emb):
    """Assignment must stay a pure map stage — no Exchange from the
    assignment itself (the whole point vs an N x K explode+window).
    Re-pinned r16: the centroids now ship in the Arrow scorer's closure
    (cell_argmax_udf), so even the old broadcast-row
    BroadcastNestedLoopJoin is gone — the plan is scan →
    ArrowEvalPython → project, with no join or exchange of any kind."""
    from erathia_market_etl_spark.operators.similarity import (
        assign_cells,
        kmeans_centroids,
    )

    cents = kmeans_centroids(clustered_emb, k=3, iters=2)
    plan = assign_cells(spark, clustered_emb, cents)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "ArrowEvalPython" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_kmeans_empty_input_raises(spark):
    """r4 ADVICE: empty embeddings must fail with a clear message, not
    a numpy shape error from a 1-D empty array."""
    import pytest as _pytest

    from erathia_market_etl_spark.operators.similarity import kmeans_centroids

    empty = spark.createDataFrame([], "vec_id BIGINT, embedding ARRAY<FLOAT>")
    with _pytest.raises(ValueError, match="empty"):
        kmeans_centroids(empty, k=3)


def test_assign_cells_zero_norm_guard(spark):
    """r4 ADVICE: a zero-norm centroid must not capture every row via
    NaN-sorts-greatest; a zero-norm embedding must get a deterministic
    cid, not an arbitrary NaN-driven one."""
    from erathia_market_etl_spark.operators.similarity import assign_cells

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    cents = [[1.0, 0.0], [0.0, 0.0], [0.0, 1.0]]  # centroid 1 is zero-norm
    out = {r["vec_id"]: r["cid"] for r in
           assign_cells(spark, emb, cents).collect()}
    assert out[0] == 0 and out[1] == 2  # real centroids win, never cid 1
    assert out[2] == 0  # all -inf -> deterministic lowest-cid tie-break


def test_sign_band_array_quotes_the_column_name(spark):
    """A column NAME goes into the single F.expr parse backtick-quoted:
    a name with a space and a backtick is one identifier, and its band
    keys equal the Column path's and a Python sign-bit reference."""
    from erathia_market_etl_spark.operators.similarity import (
        N_SIGN_BANDS,
        SIGN_BITS_PER_BAND,
        sign_band_array,
    )

    vec = [(-1.0) ** (i // 3) * (i + 1) for i in range(N_SIGN_BANDS * SIGN_BITS_PER_BAND)]
    name = "emb `v` x"
    df = spark.createDataFrame([(vec,)], "embedding array<double>")
    odd = df.withColumnRenamed("embedding", name)
    got = odd.select(sign_band_array(name).alias("k")).first()["k"]
    want = [
        "".join(
            "1" if vec[b * SIGN_BITS_PER_BAND + i] > 0 else "0"
            for i in range(SIGN_BITS_PER_BAND)
        )
        for b in range(N_SIGN_BANDS)
    ]
    assert got == want
    assert df.select(sign_band_array(F.col("embedding")).alias("k")).first()["k"] == want


def test_ivf_cells_partitioned_write_prunes_probes(spark, clustered_emb, tmp_path):
    """SCALE.md's IVF claim, demonstrated: cells written partitionBy(cid)
    turn probe reads into PARTITION PRUNING — a probe of nprobe cells
    scans only those cells' files, never the full corpus. Pin both the
    PartitionFilters in the plan and the pruned row count."""
    from erathia_market_etl_spark.operators.similarity import (
        assign_cells,
        kmeans_centroids,
    )

    cents = kmeans_centroids(clustered_emb, k=3, iters=5)
    cells = assign_cells(spark, clustered_emb, cents)
    out = str(tmp_path / "ivf_cells")
    cells.write.mode("overwrite").partitionBy("cid").parquet(out)

    probe = spark.read.parquet(out).filter(F.col("cid").isin(0, 2))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cid" in m.group(1), plan
    # the pruned scan returns exactly the two probed cells' members and
    # the un-probed cell's files are not read (strict subset of corpus)
    n_all = spark.read.parquet(out).count()
    n_probe = probe.count()
    per_cell = {r["cid"]: r["n"] for r in
                spark.read.parquet(out).groupBy("cid")
                .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert n_probe == per_cell[0] + per_cell[2] < n_all


def test_vectorized_scorer_null_and_zero_norm(spark):
    """NULL embeddings and zero-norm vectors score -inf (sorts LAST in
    a descending top-k), never NaN (which Spark sorts as the greatest
    double and would put at the TOP of every ranking)."""
    from erathia_market_etl_spark.operators.similarity import vectorized_cosine_udf

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    scorer = vectorized_cosine_udf([1.0, 0.0])
    rows = {r["vec_id"]: r["s"] for r in
            emb.select("vec_id", scorer("embedding").alias("s")).collect()}
    assert rows[0] == 1.0
    assert rows[1] == float("-inf") and rows[2] == float("-inf")
    assert abs(rows[3]) < 1e-12
    # and the ranking a top-k would see: real vectors first
    order = [r["vec_id"] for r in
             emb.select("vec_id", scorer("embedding").alias("s"))
             .orderBy(F.desc("s"), F.asc("vec_id")).collect()]
    assert order == [0, 3, 1, 2]


def test_batch_ann_recall_vs_exact(spark):
    """Quality audit for sim_topk_batch (the sim_ivf_cell_quality
    pattern applied to the batch shape): for each of the 8 query
    vectors, the IVF-cell top-10 must recover a sane fraction of the
    exact brute-force top-10. On the random sf0.001 fixture the
    nprobe=4/16 path measures ~0.5-0.8 mean recall; pin a 0.2 floor so
    a broken probe/cell join (e.g. scoring the wrong cells) fails
    loudly while fixture noise cannot."""
    from erathia_market_etl_spark.operators.similarity import cosine
    from erathia_market_etl_spark.plans.similarity_queries import (
        N_BATCH_QUERIES,
        TOP_K,
        sim_topk_batch,
    )
    from erathia_market_etl_spark.sources.parquet_io import load_table

    from .conftest import SF_SMOKE as sf
    got: dict[int, set[int]] = {}
    for r in sim_topk_batch(spark, sf).collect():
        got.setdefault(r["qid"], set()).add(r["vec_id"])
    assert set(got) == set(range(N_BATCH_QUERIES))  # every query answered
    assert all(len(v) == TOP_K for v in got.values())

    emb = load_table(spark, sf, "embeddings")
    recalls = []
    for qid in range(N_BATCH_QUERIES):
        qvec = emb.filter(F.col("vec_id") == qid).first()["embedding"]
        exact = {
            r["vec_id"]
            for r in emb.filter(F.col("vec_id") != qid)
            .select(
                "vec_id",
                cosine(F.col("embedding"), F.lit(qvec).cast("array<float>")).alias("cs"),
            )
            .orderBy(F.desc("cs"), F.asc("vec_id"))
            .limit(TOP_K)
            .collect()
        }
        recalls.append(len(exact & got[qid]) / TOP_K)
    assert sum(recalls) / len(recalls) >= 0.2, recalls


def test_pq_roundtrip_codes_and_planted_retrieval(spark):
    """PQ operators (r7): codes must be valid packed nibbles, encoding
    must preserve cardinality 1:1, and on a planted corpus — clusters
    of near-identical vectors — the ADC shortlist must put the query's
    own cluster first, before any re-ranking."""
    import random

    from pyspark.sql import functions as F

    from erathia_market_etl_spark.operators.similarity import (
        N_PQ_CODES,
        N_PQ_SUB,
        pq_adc_topk,
        pq_assign,
        pq_codebooks,
    )

    rng = random.Random(5)
    rows = []
    centers = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(5)]
    for i in range(60):
        c = centers[i % 5]
        rows.append((i, [v + rng.uniform(-0.01, 0.01) for v in c]))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    books = pq_codebooks(emb, sample_n=60)
    assert len(books) == N_PQ_SUB and len(books[0]) == N_PQ_CODES
    codes = pq_assign(spark, emb, books)
    got = codes.select("vec_id", "pq_code").collect()
    assert len(got) == 60 and len({r["vec_id"] for r in got}) == 60
    for r in got:
        assert 0 <= r["pq_code"] < (1 << (4 * N_PQ_SUB))

    # query = member of cluster 0; its 11 other cluster members must
    # dominate the ADC shortlist head (codes of same-cluster vectors
    # quantize identically or near-identically)
    qvec = rows[0][1]
    top = pq_adc_topk(
        codes.filter(F.col("vec_id") != 0), qvec, books, top=11
    ).collect()
    cluster0 = {i for i in range(60) if i % 5 == 0} - {0}
    assert {r["vec_id"] for r in top} == cluster0, top


def test_pq_assign_enforces_nibble_packing_invariant(spark):
    """r7 ADVICE: pq_assign packs each subspace code into a 4-bit
    nibble, so a codebook with >16 entries (cids >= 16) would silently
    bleed into the next subspace's bits and corrupt every packed code —
    it must raise instead of assuming the invariant. Same for >15
    subspaces (nibble 15 would wrap the signed 64-bit code)."""
    import pytest

    from erathia_market_etl_spark.operators.similarity import pq_assign

    emb = spark.createDataFrame(
        [(0, [0.0] * 8)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    ok_book = [[float(i)] * 4 for i in range(16)]
    fat_book = [[float(i)] * 4 for i in range(17)]
    with pytest.raises(ValueError, match="16 entries"):
        pq_assign(spark, emb, [ok_book, fat_book])
    thin = [[[0.0], [1.0]]] * 16  # 16 subspaces of 1-dim, k=2
    with pytest.raises(ValueError, match="n_sub=16"):
        pq_assign(spark, emb, thin)
    # the boundary case (exactly 16 entries, 15 subspaces or fewer)
    # stays accepted
    assert pq_assign(spark, emb, [ok_book, ok_book]).count() == 1


def test_ivfpq_contract_and_composition(spark):
    """Queued r8 IVF-PQ composition: the contract row holds at
    SF_SMOKE (recall over the floor, shortlist genuinely pruning),
    and the IVF half agrees with sim_topk_ivf's own candidate
    accounting — the probed-cell population count equals the number
    of candidate rows the exact IVF query scores before its LIMIT."""
    from pyspark.sql import functions as F

    from erathia_market_etl_spark.plans.similarity_queries import (
        N_PROBE,
        QUERY_VEC_ID,
        _ivf_centroids,
        sim_ivfpq_topk,
    )
    from erathia_market_etl_spark.sources.parquet_io import load_table

    from .conftest import SF_SMOKE

    row = sim_ivfpq_topk(spark, SF_SMOKE).collect()
    assert len(row) == 1
    r = row[0]
    assert r["recall_ok"] is True, r
    assert r["shortlist_bounded"] is True, r
    assert r["n_probe"] == N_PROBE and r["n_sub"] == 8 and r["k"] == 16, r

    # independent recount of the probed-cell candidate population
    from erathia_market_etl_spark.operators.similarity import (
        cell_argmax_udf,
        probe_order_udf,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cids, C = _ivf_centroids(emb)
    cells = emb.select(
        "vec_id", cell_argmax_udf(cids, C)(F.col("embedding")).alias("cid")
    )
    probes = (
        emb.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(
            F.explode(
                F.slice(probe_order_udf(cids, C)(F.col("embedding")),
                        1, N_PROBE)
            ).alias("cid")
        )
    )
    n = (
        cells.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .count()
    )
    assert r["n_candidates"] == n, (r["n_candidates"], n)


def test_semantic_cells_planted_dup_found_cross_cell_missed(spark, tmp_path):
    """SemDeDup semantics on a planted corpus: two near-identical
    vectors landing in the SAME cell must come out as a pair with
    cosine ~1; a near-identical pair STRADDLING a cell boundary
    (mixtures leaning toward two different centroids) is the documented
    SemDeDup miss — cluster-local comparison cannot see across cells
    (the paper accepts this; the banded-LSH pass is the complement)."""
    import os

    from erathia_market_etl_spark.plans.similarity_queries import (
        dedup_semantic_cells,
    )

    def basis(i, scale=1.0):
        v = [0.0] * DIM
        v[i] = scale
        return v

    def mix(i, j, wi, wj):
        v = [0.0] * DIM
        v[i], v[j] = wi, wj
        return v

    rows = [(i, basis(i)) for i in range(16)]          # centroid seeds
    near = basis(3, 0.6)
    near2 = list(near)
    near2[40] = 0.01                                    # tiny off-axis noise
    rows += [(20, near), (21, near2)]                   # same-cell dup pair
    rows += [(30, mix(5, 6, 0.51, 0.49)), (31, mix(5, 6, 0.49, 0.51))]
    df = spark.createDataFrame(rows, _EMB_SCHEMA).withColumn(
        "label", F.lit(0)  # the fixture embeddings schema carries label
    )
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))

    pairs = {
        (r["vec_a"], r["vec_b"]): r
        for r in dedup_semantic_cells(spark, d).collect()
    }
    assert (20, 21) in pairs
    assert pairs[(20, 21)]["cosine_sim"] > 0.99
    assert pairs[(20, 21)]["cid"] == 3
    assert (30, 31) not in pairs  # the documented cross-cell miss
    # every emitted pair is within one cell and above the threshold
    for (a, b), r in pairs.items():
        assert r["cosine_sim"] >= 0.4, r


def test_semdedup_sqrt_cells_recovers_capped_pair(spark):
    """The SemDeDup cell-count knob's recall effect, proven on a
    crafted corpus (r9, VERDICT r8 item 3): 1024 vectors where all but
    three point along e1 (so under 16 cells EVERYTHING ties into cell
    0 and the 128-cap binds), vector 20 points along e2, and a planted
    near-dup pair (1022, 1023) also points along e2 at high vec_ids.

    With 16 fixed cells, vector 20 is not a centroid: the planted pair
    lands in overfull cell 0 at row_number ~1021 — beyond the cap —
    and the pair is silently LOST (but the truncated flag says so).
    With sqrt(1024)=32 cells, vector 20 IS a centroid: the pair
    assigns to its cell, survives the cap, and is found."""
    import math

    from erathia_market_etl_spark.plans.similarity_queries import (
        semantic_cell_pairs,
    )

    n = 1024
    rows = []
    for i in range(n):
        if i == 20 or i >= 1022:
            vec = [0.0, 1.0, 0.0, 0.0]  # e2 direction
        else:
            vec = [1.0, 0.0, 0.0, 0.0]  # e1 direction
        rows.append((i, vec, "x"))
    emb = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label STRING"
    )

    def pairs(n_cells):
        got = semantic_cell_pairs(emb, n_cells).collect()
        return {(r["vec_a"], r["vec_b"]): r for r in got}

    with_16 = pairs(16)
    assert (1022, 1023) not in with_16  # the recall cliff, demonstrated
    # ...but the loss is ACCOUNTED: every surviving cell-0 pair carries
    # the binding-cap evidence
    cell0 = [r for r in with_16.values() if r["cid"] == 0]
    assert cell0 and all(r["truncated"] for r in cell0)
    assert all(r["cell_n"] > 128 for r in cell0)

    with_sqrt = pairs(max(16, math.isqrt(n)))
    assert (1022, 1023) in with_sqrt  # sqrt(n) cells recover the pair
    rec = with_sqrt[(1022, 1023)]
    assert rec["cid"] == 20 and not rec["truncated"] and rec["cell_n"] == 3


def test_jl_projection_matches_python_and_preserves_norms(spark):
    """emb_random_projection semantics: (1) every projected coordinate
    equals the pure-Python sign projection over the same micro-
    quantized elements — catches both the hash and the quantization
    drifting; (2) the JL norm-preservation envelope: for every fixture
    vector, sum_j proj_j^2 / JL_DIM stays within a generous
    concentration band of the original micro-norm^2 (this is the
    property that makes the projection usable as a distance pre-step
    at all; the precedence bug this query's compare caught produced
    sign matrices that FAIL this test)."""
    import math

    from erathia_market_etl_spark.plans.similarity_queries import (
        JL_DIM,
        emb_random_projection,
    )
    from erathia_market_etl_spark.sources.parquet_io import load_table

    sf = "/root/testdata/sf0.001"
    M32 = 1 << 32

    def h32(x):
        x %= M32
        x = ((x >> 16) ^ x) * 0x45D9F3B % M32
        x = ((x >> 16) ^ x) * 0x45D9F3B % M32
        return (x >> 16) ^ x

    def sign(pos, j):
        return 1 - 2 * (h32(pos * JL_DIM + j) % 2)

    def micro(v):
        return int(math.copysign(math.floor(abs(float(v)) * 1e6 + 0.5), v))

    emb = {
        r["vec_id"]: [micro(v) for v in r["embedding"]]
        for r in load_table(spark, sf, "embeddings").limit(20).collect()
    }
    got = {}
    for r in emb_random_projection(spark, sf).collect():
        got.setdefault(r["vec_id"], {})[r["j"]] = r["proj_micro"]

    for vid, m in emb.items():
        for j in range(JL_DIM):
            want = sum(m[i] * sign(i, j) for i in range(64))
            assert got[vid][j] == want, (vid, j)
        norm2 = sum(x * x for x in m)
        proj2 = sum(got[vid][j] ** 2 for j in range(JL_DIM)) / JL_DIM
        assert 0.3 * norm2 <= proj2 <= 2.2 * norm2, (vid, proj2 / norm2)


def test_jl_rerank_recall_floor(spark):
    """The JL-shortlist composition must actually retrieve: recall@10
    vs the exact brute-force top-10 stays >= 0.5 on the fixture (the
    adversarial random-vector case; measured 0.8 at sf0.001 with
    d'=32 / shortlist 128 — the (16, 64) configuration scores 0.3 and
    FAILS this floor, which is why retrieval gets its own dim)."""
    from erathia_market_etl_spark.plans.similarity_queries import (
        sim_topk_bruteforce,
        sim_topk_jl_rerank,
    )

    sf = "/root/testdata/sf0.001"
    jl = {r["vec_id"] for r in sim_topk_jl_rerank(spark, sf).collect()}
    bf = {r["vec_id"] for r in sim_topk_bruteforce(spark, sf).collect()}
    assert len(jl) == 10
    assert len(jl & bf) / 10 >= 0.5, jl & bf


def test_int8_quantization_planted_hand_vector(spark):
    """Hand-checkable int8 codes on a 4-dim vector, plus the
    zero-vector guard. The reconstruction-error expectation mirrors
    the exact IEEE expression (floor(|x - q*s/127|*1e9 + 0.5)) in
    Python, which follows the same correctly-rounded double semantics."""
    import math

    from erathia_market_etl_spark.plans.similarity_queries import (
        int8_quantization_frame,
    )

    x = [1.0, -0.5, 0.25, 0.0]
    emb = spark.createDataFrame(
        [(0, [float(v) for v in x]), (1, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {
        r["vec_id"]: r
        for r in int8_quantization_frame(emb, dim=4).collect()
    }

    # s = 1.0; codes: 127, -floor(63.5+0.5)=-64, floor(31.75+0.5)=32, 0
    r0 = rows[0]
    assert r0["scale_micro"] == 1_000_000
    assert r0["code_sum"] == 127 - 64 + 32
    assert r0["code_checksum"] == 1 * 127 + 2 * -64 + 3 * 32
    assert r0["n_maxed"] == 1
    q = [127, -64, 32, 0]
    expect_err = sum(
        math.floor(abs(v - qq * 1.0 / 127) * 1e9 + 0.5)
        for v, qq in zip(x, q)
    )
    assert r0["err_nano_sum"] == expect_err > 0

    # zero vector: guard kicks in — all codes and errors exactly 0
    r1 = rows[1]
    assert (
        r1["scale_micro"], r1["code_sum"], r1["code_checksum"],
        r1["n_maxed"], r1["err_nano_sum"],
    ) == (0, 0, 0, 0, 0)


def test_kmeans_lloyd_planted_two_clusters(spark):
    """Two planted tight groups in 2-dim micro space: Lloyd with k=2
    must separate them, and the centroid checksums must equal the
    hand-computed integer means of each group."""
    from erathia_market_etl_spark.plans.similarity_queries import (
        kmeans_lloyd_frame,
    )

    # seeds: vec 0 (low group), vec 1 (high group); two more per group
    vecs = [
        (0, [0.10, 0.10]),
        (1, [0.90, 0.90]),
        (2, [0.12, 0.10]),
        (3, [0.10, 0.14]),
        (4, [0.88, 0.90]),
        (5, [0.90, 0.86]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = {
        r["cid"]: r for r in kmeans_lloyd_frame(emb, dim=2, k=2).collect()
    }
    assert set(out) == {0, 1}
    assert out[0]["n_members"] == 3 and out[1]["n_members"] == 3

    # integer centroid means (micro units; float32->double of these
    # literals is exact enough that FLOOR lands on the same micro ints
    # the engines compute — verified by the assertion itself)
    lo = [(100000 + 120000 + 100000) // 3, (100000 + 100000 + 140000) // 3]
    hi = [(900000 + 880000 + 900000) // 3, (900000 + 900000 + 860000) // 3]
    assert out[0]["centroid_checksum"] == 1 * lo[0] + 2 * lo[1]
    assert out[1]["centroid_checksum"] == 1 * hi[0] + 2 * hi[1]


def test_kmeans_lloyd_duplicate_seed_empties_cluster(spark):
    """Duplicate seed vectors: both initial centroids coincide, every
    assignment ties and goes to the lower cid, so cluster 1 is EMPTY
    from round 1 on. The COALESCE path must keep the run alive (no
    div-by-zero, no dropped rows) and the report shows one cluster
    holding everything."""
    from erathia_market_etl_spark.plans.similarity_queries import (
        kmeans_lloyd_frame,
    )

    emb = spark.createDataFrame(
        [(0, [0.5, 0.5]), (1, [0.5, 0.5]), (2, [0.6, 0.6]), (3, [0.4, 0.4])],
        "vec_id long, embedding array<float>",
    )
    rows = kmeans_lloyd_frame(emb, dim=2, k=2).collect()
    assert len(rows) == 1
    assert rows[0]["cid"] == 0 and rows[0]["n_members"] == 4


def test_collect_query_embedding_contract(spark):
    """The shared one-row query-vector collect (r10 VERDICT item 5)
    enforces its boundedness: exactly-one row comes back as floats,
    a missing id and a duplicated id both fail loudly instead of
    scoring against an arbitrary row."""
    import pytest

    from erathia_market_etl_spark.plans.similarity_queries import (
        collect_query_embedding,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0]), (1, [5.0, 6.0])],
        "vec_id long, embedding array<float>",
    )
    assert collect_query_embedding(emb, 0) == [1.0, 2.0]
    with pytest.raises(ValueError, match="got 0"):
        collect_query_embedding(emb, 99)
    with pytest.raises(ValueError, match="got 2"):
        collect_query_embedding(emb, 1)


def test_rank_normalize_planted_ranks_and_ties(spark):
    """Planted 3-vector, 2-dim matrix pins the rank arithmetic: dim 1
    values (1.0, 5.0, 9.0) rank to 0 / 500000 / 1000000 ppm; dim 2 has
    a TIE (2.0, 2.0, 7.0) — RANK() gives both low values rank 1 (0
    ppm) and the high one rank 3 (1000000), never a tiebreak on
    vec_id. The weighted checksum separates per-dimension placement."""
    import tempfile

    from erathia_market_etl_spark.plans.similarity_queries import (
        emb_rank_normalize,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 2.0], 0),
            (1, [5.0, 2.0], 0),
            (2, [9.0, 7.0], 0),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    with tempfile.TemporaryDirectory() as d:
        emb.write.parquet(d + "/embeddings.parquet")
        out = {
            r["vec_id"]: (r["sum_ppm"], r["checksum_weighted"])
            for r in emb_rank_normalize(spark, d).collect()
        }
    # vec 0: dim1 rank 1 -> 0 ppm; dim2 rank 1 (tie) -> 0 ppm
    assert out[0] == (0, 0)
    # vec 1: dim1 rank 2 -> 500000; dim2 rank 1 (tie) -> 0
    assert out[1] == (500_000, 1 * 500_000)
    # vec 2: dim1 rank 3 -> 1e6; dim2 rank 3 -> 1e6
    assert out[2] == (2_000_000, 1 * 1_000_000 + 2 * 1_000_000)


def test_pca_power_iteration_recovers_planted_direction(spark, tmp_path):
    """emb_pca_power_iteration on a planted cloud dominated by one
    axis: vectors concentrate on dimension 7 (plus small deterministic
    off-axis noise), so the round-2 renormalized coordinate vector
    must peak at dimension 7 at full scale (|v2[7]| = 1000) with every
    other coordinate well below — and the iteration must have MOVED
    from the uniform start (v2 spread != v0 spread)."""
    from erathia_market_etl_spark.plans.similarity_queries import (
        EMB_DIM,
        PCA_V_SCALE,
        emb_pca_power_iteration,
    )

    rows = []
    for i in range(80):
        vec = [0.01 * ((i * 13 + j * 7) % 11 - 5) for j in range(EMB_DIM)]
        vec[7] = 0.9 if i % 2 == 0 else 0.85
        rows.append((i, vec, i % 3))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    p = str(tmp_path / "sf")
    df.write.parquet(f"{p}/embeddings.parquet")

    got = {r["pos"]: (r["v1"], r["v2"])
           for r in emb_pca_power_iteration(spark, p).collect()}
    assert len(got) == EMB_DIM
    assert abs(got[7][1]) == PCA_V_SCALE  # dominant axis at full scale
    others = [abs(v2) for pos, (_, v2) in got.items() if pos != 7]
    assert max(others) < PCA_V_SCALE // 4


def test_fixture_corpora_hit_frozen_fingerprint_arms():
    """The contract-class oracles (sim_pq_quality / sim_ivf_cell_quality
    / sim_ivfpq_topk) dispatch their pinned measured integers on the
    _EMB_FINGERPRINT_CTE corpus signature. This pins that the driver
    fixtures land on their FROZEN arms — and therefore that the r14
    synthetic-sf1 arm (_EMB_SIG_SF1SYN) is machine-verified UNREACHED
    by every registered query's fixture execution, which is what lets
    its addition skip a _CHANGED re-attestation slot (the r8
    unreached-branch precedent in plans/registry.py)."""
    import duckdb

    from erathia_market_etl_spark.plans.similarity_queries import (
        _EMB_SIG_SF0001,
        _EMB_SIG_SF001,
        _EMB_SIG_SF1SYN,
    )

    from .conftest import SF_SMOKE, SF_T2

    con = duckdb.connect()
    expected = {SF_SMOKE: _EMB_SIG_SF0001, SF_T2: _EMB_SIG_SF001}
    for sf_dir, frozen in expected.items():
        sig = con.sql(
            "SELECT CAST(SUM(CAST(FLOOR(ABS(embedding[1]) * 1000000 + 0.5)"
            f" AS BIGINT)) AS BIGINT) FROM '{sf_dir}/embeddings.parquet'"
        ).fetchone()[0]
        assert sig == frozen, (sf_dir, sig, frozen)
        assert sig != _EMB_SIG_SF1SYN, sf_dir

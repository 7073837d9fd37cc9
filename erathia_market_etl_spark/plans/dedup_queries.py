"""Deduplication queries over documents (extension surface).

exact-hash dedup, MinHash-LSH candidate generation, and n-gram-Jaccard
verification — the standard near-dup stack for pre-training corpora,
expressed as pure DataFrame pipelines (operators/dedup.py) with exact
DuckDB twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    DEFAULT_MAX_BUCKET,
    N_MINHASH,
    N_SIMHASH_BITS,
    N_SIMHASH_BLOCKS,
    SIMHASH_HAMMING_MAX,
    candidate_pairs_from_bands,
    exact_dedup_groups,
    jaccard,
    minhash_band_table,
    minhash_candidate_pairs,
    shingles_from_tokens,
    simhash_near_pairs,
)
from ..operators.similarity import round6
from ..operators.text import tokens
from ..sources.parquet_io import adaptive_partitions, fan_out, load_table
from .registry import query
from .session_cache import session_frame

# ---------------------------------------------------------------------------
# Shared MinHash signature stage: the three most expensive headline
# queries (dedup_minhash_lsh_pairs, dedup_corpus_representatives,
# pipeline_training_funnel) and the cluster/split siblings all start
# from the SAME corpus-wide (doc, band_idx, band_key) band table with
# identical parameters (3-gram shingles, 8-hash signature, 4 bands of
# 2). Within one session the stage is computed once and PERSISTED
# (memory-and-disk: spills instead of evicting at scale — a production
# pipeline staging a multi-TB corpus would materialize it to parquet
# between jobs, same idea) in the session cache. Values are identical
# by construction (the stage is deterministic; MIN aggregates are
# partition-layout-independent), so the oracles carry over unchanged;
# the cap window / bucket collect / pair expansion stay LIVE in every
# consumer plan, so the WindowGroupLimit and shuffle-inventory pins
# keep their teeth.
# ---------------------------------------------------------------------------


def shared_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached, persisted corpus-wide MinHash band table over
    the ``documents`` fixture (see the block comment above)."""
    from pyspark import StorageLevel

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return minhash_band_table(docs, "text", "doc_id").persist(
            StorageLevel.MEMORY_AND_DISK
        )

    return session_frame(spark, sf_dir, "minhash_bands", build)


def shared_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs over the shared band table — the default-
    parameter ``minhash_candidate_pairs(docs, "text", "doc_id")``,
    minus the per-query signature recompute."""
    return candidate_pairs_from_bands(shared_minhash_bands(spark, sf_dir))


def shared_pair_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component labels over ``shared_minhash_pairs``, kept
    in the session cache like the band table: the component kernel
    executes EAGERLY (a bounded collect and driver-side labels, or
    checkpointed rounds on a large graph) while the consuming plan is
    constructed, and three consumers (dedup_cluster_components,
    dedup_corpus_representatives, sample_leakage_safe_splits) cluster
    the SAME full candidate-pair set — one label computation per
    session serves all three. The labels frame is driver data or
    checkpoint-backed, so no extra persist is needed; determinism
    (labels are component minima) makes the share value-invisible.
    pipeline_training_funnel deliberately does NOT share it: its
    components run on the gate-induced subgraph, a different edge
    set."""
    from ..operators.graph import connected_components_auto

    def build() -> DataFrame:
        return connected_components_auto(
            shared_minhash_pairs(spark, sf_dir), "doc_a", "doc_b",
            num_partitions=lambda: adaptive_partitions(
                load_table(spark, sf_dir, "documents")
            ),
        )

    return session_frame(spark, sf_dir, "pair_components", build)

# shared SQL fragments for the oracle twins ---------------------------------

_SHINGLES_CTE = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3 THEN
                   list_transform(generate_series(1, len(t) - 2),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
               ELSE [] END AS s
        FROM toks
    )
"""

def _rot_hash(j: int) -> str:
    if j == 0:
        return "md5('mh|' || x)"
    return f"substr(md5('mh|' || x), {4*j+1}) || substr(md5('mh|' || x), 1, {4*j})"


_SIG_SQL = ", ".join(
    f"list_min(list_transform(s, x -> {_rot_hash(j)})) AS h{j}" for j in range(N_MINHASH)
)
_BANDS_SQL = ", ".join(f"md5('{b}|' || h{2*b} || h{2*b+1}) AS band{b}" for b in range(4))
_BAND_UNION = "\n        UNION ALL\n".join(
    f"        SELECT doc_id, {b} AS band_idx, band{b} AS band_key FROM banded"
    for b in range(4)
)

_BANDS_CTE = f"""
    {_SHINGLES_CTE},
    sig AS (SELECT doc_id, {_SIG_SQL} FROM sh WHERE len(s) > 0),
    banded AS (SELECT doc_id, {_BANDS_SQL} FROM sig),
    bands AS (
{_BAND_UNION}
    )
"""

# the hot-bucket cap (operators/dedup.py:cap_bucket_members) mirrored in
# SQL: deterministic first-K-by-id per bucket via QUALIFY row_number
_CANDIDATES_CTE = f"""
    {_BANDS_CTE},
    capped AS (
        SELECT doc_id, band_idx, band_key FROM bands
        QUALIFY row_number() OVER (PARTITION BY band_idx, band_key
                                   ORDER BY doc_id) <= {DEFAULT_MAX_BUCKET}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM capped a JOIN capped b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        WHERE a.doc_id < b.doc_id
    )
"""


@query(
    "dedup_exact_hash",
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS representative_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    ORDER BY content_hash
    """,
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one shuffle on the content hash; representative =
    min(doc_id). At 100 TB: hash the bytes, never the parsed row."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "text", "doc_id").orderBy("content_hash")


@query(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH {_CANDIDATES_CTE}
    SELECT doc_a, doc_b FROM pairs
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: 3-gram shingles -> 8-element minhash
    (lexicographic min of md5 — engine-portable) -> 4 bands of 2 ->
    self-equi-join on band key. Catches Jaccard ≳ 0.5 pairs; the only
    shuffle is the band-key join."""
    return shared_minhash_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


# SimHash oracle fragments --------------------------------------------------

_BITSUMS_SQL = ", ".join(
    f"SUM(2 * ((h >> {j}) & 1) - 1) AS b{j}" for j in range(N_SIMHASH_BITS)
)
_FP_SQL = " + ".join(
    f"(CASE WHEN b{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
    for j in range(N_SIMHASH_BITS)
)
_BLOCK_W = N_SIMHASH_BITS // N_SIMHASH_BLOCKS
_BLOCK_UNION = "\n        UNION ALL\n".join(
    f"        SELECT doc, fingerprint, {b} AS block_idx,"
    f" (fingerprint >> {b * _BLOCK_W}) & {(1 << _BLOCK_W) - 1} AS block_key FROM fp"
    for b in range(N_SIMHASH_BLOCKS)
)

_SIMHASH_CTE = f"""
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    hashed AS (
        SELECT doc_id, CAST('0x' || substr(md5('sh|' || t), 1, {N_SIMHASH_BITS // 4}) AS BIGINT) AS h
        FROM tok
    ),
    sums AS (SELECT doc_id, {_BITSUMS_SQL} FROM hashed GROUP BY doc_id),
    fp AS (SELECT doc_id AS doc, {_FP_SQL} AS fingerprint FROM sums)
"""


@query(
    "dedup_simhash_near_pairs",
    oracle=f"""
    WITH {_SIMHASH_CTE},
    blocks AS (
{_BLOCK_UNION}
    ),
    capped AS (
        SELECT doc, fingerprint, block_idx, block_key FROM blocks
        QUALIFY row_number() OVER (PARTITION BY block_idx, block_key
                                   ORDER BY doc) <= {DEFAULT_MAX_BUCKET}
    )
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
           bit_count(xor(a.fingerprint, b.fingerprint)) AS hamming
    FROM capped a JOIN capped b
      ON a.block_idx = b.block_idx AND a.block_key = b.block_key
    WHERE a.doc < b.doc
      AND bit_count(xor(a.fingerprint, b.fingerprint)) <= {SIMHASH_HAMMING_MAX}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3) via pigeonhole LSH: 4 blocks
    of 12 bits — any pair within hamming 3 shares an exact block, so
    candidates come from block-bucket grouping and are verified with
    bit_count(a XOR b). Same one-shuffle bucket-expansion shape as
    MinHash banding."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(docs, "text", "doc_id").orderBy("doc_a", "doc_b")


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_CANDIDATES_CTE}
    SELECT p.doc_a, p.doc_b,
           FLOOR(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                 / len(list_distinct(sa.s || sb.s)) * 1000000 + 0.5) / 1000000
               AS jaccard_3gram
    FROM pairs p
    JOIN sh sa ON sa.doc_id = p.doc_a
    JOIN sh sb ON sb.doc_id = p.doc_b
    WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          / len(list_distinct(sa.s || sb.s)) >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup verification: exact distinct-set Jaccard computed ONLY on
    LSH candidates (never all-pairs), thresholded at 0.5. The expensive
    O(n²) stage is bounded by the LSH collision rate."""
    docs = load_table(spark, sf_dir, "documents")
    # shingles are hashed to int64 BEFORE the join-back: the verify then
    # shuffles ~8 bytes per shingle instead of the ~3-word string (and
    # array_intersect compares longs, not strings). Jaccard is a pure
    # set-cardinality ratio, so each engine may hash with its own
    # function (DuckDB keeps strings) — the ratio is identical unless
    # xxhash64 collides within one document pair's shingle sets
    # (P ≈ n²/2⁶⁵ — negligible, and a collision would only perturb one
    # pair's ratio).
    sh = (
        fan_out(docs)
        .withColumn("_toks", tokens(F.col("text")))
        .select(
            "doc_id",
            F.transform(
                shingles_from_tokens(F.col("_toks"), 3), lambda x: F.xxhash64(x)
            ).alias("s"),
        )
    )
    pairs = shared_minhash_pairs(spark, sf_dir)
    # evaluate the (array_intersect/array_union) Jaccard ONCE as a
    # column, then filter/round on it — filter(jc)+select(round6(jc))
    # would compute the set expression twice per candidate pair
    jc = jaccard(F.col("sa.s"), F.col("sb.s"))
    return (
        pairs.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sh.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn("_jc", jc)
        .filter(F.col("_jc") >= 0.5)
        .select("doc_a", "doc_b", round6(F.col("_jc")).alias("jaccard_3gram"))
        .orderBy("doc_a", "doc_b")
    )


@query(
    "dedup_incremental_new_docs",
    oracle="""
    WITH corpus AS (
        SELECT DISTINCT md5(trim(lower(text))) AS fp
        FROM documents WHERE doc_id < 250
    ),
    incoming AS (
        SELECT doc_id, md5(trim(lower(text))) AS fp
        FROM documents WHERE doc_id >= 250
    )
    SELECT i.doc_id, i.fp
    FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = i.fp)
    ORDER BY i.doc_id
    """,
)
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: fingerprint the incoming batch and
    anti-join against the existing corpus's fingerprint set — the
    day-2 operation of every dedup pipeline (full re-dedup of 100 TB
    per ingest is a non-starter; the fingerprint table is ~64 bytes/doc
    and the anti-join shuffles only fingerprints, not text). Here the
    'corpus' is doc_id < 250 and the 'batch' is the rest, split for
    reproducibility."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.trim(F.lower(F.col("text")))).alias("fp")
    corpus = docs.filter(F.col("doc_id") < 250).select(fp).distinct()
    incoming = docs.filter(F.col("doc_id") >= 250).select("doc_id", fp)
    return (
        incoming.join(corpus, "fp", "left_anti")
        .select("doc_id", "fp")
        .orderBy("doc_id")
    )


@query(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE {_CANDIDATES_CTE},
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    )
    SELECT a AS doc_id,
           CASE WHEN MIN(b) < a THEN MIN(b) ELSE a END AS component_id
    FROM reach
    GROUP BY a
    ORDER BY doc_id
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash-LSH candidate pairs as edges,
    connected components via the kernel-ESCALATING auto operator
    (operators/graph.py, r7): min-label propagation runs first and on
    dense dup-cluster graphs (this corpus: 4 rounds at every SF) is
    the entire cost — one labels-sized shuffle + one action per round,
    zero selection overhead; only if its round budget exhausts
    (chain-shaped structure) the graph is contracted through the
    partial labels and handed to the r6 alternating
    large-star/small-star kernel (Kiveris et al. SoCC'14), keeping
    total rounds ≤ budget + O(log² n) regardless of diameter.
    Component id = canonical (minimum) doc — 'keep one per cluster' is
    then a filter on doc_id == component_id. Oracle computes the same
    fixpoint with a recursive CTE (transitive closure + per-vertex
    min); labels are kernel-independent, so the oracle is unchanged."""
    return (
        shared_pair_components(spark, sf_dir)
        .select(F.col("v").alias("doc_id"), "component_id")
        .orderBy("doc_id")
    )


@query(
    "dedup_corpus_representatives",
    oracle=f"""
    WITH RECURSIVE {_CANDIDATES_CTE},
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    non_reps AS (
        SELECT a AS doc_id FROM reach GROUP BY a HAVING MIN(b) < a
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM non_reps)
    ORDER BY d.doc_id
    """,
)
def dedup_corpus_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable end of the near-dup pipeline: the DEDUPED CORPUS —
    every document except non-representative near-dup cluster members
    (representative = minimum doc_id per connected component, the same
    canonical label dedup_cluster_components assigns). The other dedup
    queries emit pairs/components/stats for audit; this one emits what a
    training pipeline actually feeds the tokenizer. Shape: LSH pairs →
    kernel-selecting connected components (r7, see
    dedup_cluster_components) → filter members ≠ label → LEFT ANTI join
    back to documents. The anti-join is a sort-merge on doc_id by design —
    on a heavily-duplicated corpus (web crawls routinely dedup away
    most of the data) the non-representative side is NOT small, so a
    broadcast hint would be a scale bug; SMJ shuffles only 8-byte keys
    plus the projected columns, never text payloads."""
    docs = load_table(spark, sf_dir, "documents")
    non_reps = (
        shared_pair_components(spark, sf_dir)
        .filter(F.col("v") != F.col("component_id"))
        .select(F.col("v").alias("doc_id"))
    )
    return (
        docs.join(non_reps, "doc_id", "left_anti")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# dedup_fuzzy_prefix_block: blocking + edit-distance verification (the
# classic record-linkage / entity-resolution near-dup shape — character-
# level and order-sensitive, catching small edits that token-set
# Jaccard treats as identical and SimHash as noise).
# ---------------------------------------------------------------------------

FUZZY_PREFIX_LEN = 16     # blocking key: first 16 chars
FUZZY_LEN_BUCKET = 32     # ... plus length DIV 32
FUZZY_BLOCK_CAP = 64      # deterministic per-block candidate cap
FUZZY_VERIFY_LEN = 120    # edit distance over the first 120 chars
FUZZY_MAX_DIST = 24       # keep pairs within 24 edits

DEDUP_FUZZY_PREFIX_BLOCK_ORACLE = f"""
    WITH d AS (
        SELECT doc_id,
               substr(text, 1, {FUZZY_PREFIX_LEN}) AS pfx,
               length(text) // {FUZZY_LEN_BUCKET} AS lb,
               substr(text, 1, {FUZZY_VERIFY_LEN}) AS head
        FROM documents
    ),
    capped AS (
        SELECT * FROM (
            SELECT d.*,
                   ROW_NUMBER() OVER (PARTITION BY pfx, lb ORDER BY doc_id)
                       AS rn
            FROM d
        ) WHERE rn <= {FUZZY_BLOCK_CAP}
    )
    SELECT a.doc_id AS doc_a,
           b.doc_id AS doc_b,
           levenshtein(a.head, b.head) AS prefix_edit_distance
    FROM capped a
    JOIN capped b
      ON a.pfx = b.pfx AND a.lb = b.lb AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= {FUZZY_MAX_DIST}
    ORDER BY doc_a, doc_b
    """


@query(
    "dedup_fuzzy_prefix_block",
    oracle=DEDUP_FUZZY_PREFIX_BLOCK_ORACLE,
    tier="local",
)
def dedup_fuzzy_prefix_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup pairs by prefix blocking + Levenshtein verify:
    block on (first FUZZY_PREFIX_LEN (16) chars, length DIV
    FUZZY_LEN_BUCKET (32)), cap each block at FUZZY_BLOCK_CAP (64) docs
    deterministically (row_number by doc_id — Spark rewrites the rank
    filter to a two-phase WindowGroupLimit, so the cap is taken
    map-side before the block exchange), emit ordered within-block
    pairs, keep those whose FUZZY_VERIFY_LEN (120)-char heads are
    within FUZZY_MAX_DIST (24) edits. Levenshtein is an exact integer
    on both engines (the fixture corpus is ASCII; codepoint semantics
    agree), so the oracle is hash-exact.

    At 100 TB: only (doc_id, 16-char key, bucket, 120-char head) ride
    the blocking shuffle — never document payloads; pair expansion is
    bounded O(cap²) per block with the cap deterministic (a boilerplate
    prefix shared by millions of docs costs 64 rows, not 10^12 pairs);
    the O(len²) edit-distance DP runs on 120-char heads only, after
    blocking has already cut candidates to near-duplicates. The miss
    budget is explicit and tunable: pairs differing inside their first
    16 chars belong to the MinHash/SimHash passes (token-level edits),
    this pass supplies the character-level verify they can't."""
    docs = load_table(spark, sf_dir, "documents")
    d = fan_out(docs).select(
        "doc_id",
        F.substring("text", 1, FUZZY_PREFIX_LEN).alias("pfx"),
        F.expr(f"length(text) DIV {FUZZY_LEN_BUCKET}").alias("lb"),
        F.substring("text", 1, FUZZY_VERIFY_LEN).alias("head"),
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("pfx", "lb").orderBy("doc_id")
    )
    capped = d.withColumn("rn", rn).filter(F.col("rn") <= FUZZY_BLOCK_CAP)
    a = capped.select(
        F.col("doc_id").alias("doc_a"), "pfx", "lb",
        F.col("head").alias("head_a"),
    )
    b = capped.select(
        F.col("doc_id").alias("doc_b"), "pfx", "lb",
        F.col("head").alias("head_b"),
    )
    return (
        a.join(b, ["pfx", "lb"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.levenshtein("head_a", "head_b").alias("prefix_edit_distance"),
        )
        .filter(F.col("prefix_edit_distance") <= FUZZY_MAX_DIST)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# dedup_bloom_incremental: Bloom-filter membership pre-pass for the
# incremental-ingest path.
# ---------------------------------------------------------------------------

from ..operators.dedup import (  # noqa: E402  (section-local import)
    BLOOM_K,
    BLOOM_WORD_BITS,
    bloom_build,
    bloom_m_bits,
    bloom_probe,
)

_BLOOM_HIST_SPLIT = 250  # same history/batch split as dedup_incremental_new_docs


def _bloom_pos_sql(i: int) -> str:
    return f"((h1 + {i} * h2) % m)"


_BLOOM_BITS_UNION = "\n            UNION ALL\n".join(
    f"""            SELECT doc_id, fp,
                   {_bloom_pos_sql(i)} // {BLOOM_WORD_BITS} AS word_idx,
                   CAST(1 AS BIGINT)
                       << CAST({_bloom_pos_sql(i)} % {BLOOM_WORD_BITS} AS INTEGER)
                       AS mask
            FROM {{src}}, par"""
    for i in range(BLOOM_K)
)

DEDUP_BLOOM_INCREMENTAL_ORACLE = f"""
    WITH hist AS (
        SELECT DISTINCT md5(trim(lower(text))) AS fp
        FROM documents WHERE doc_id < {_BLOOM_HIST_SPLIT}
    ),
    par AS (
        SELECT {BLOOM_WORD_BITS}
               * ((20 * COUNT(*) + {BLOOM_WORD_BITS - 1}) // {BLOOM_WORD_BITS})
               AS m
        FROM hist
    ),
    hh AS (
        SELECT NULL AS doc_id, fp,
               CAST('0x' || substr(md5('bf1|' || fp), 1, 15) AS BIGINT) AS h1,
               CAST('0x' || substr(md5('bf2|' || fp), 1, 15) AS BIGINT) AS h2
        FROM hist
    ),
    hbits AS (
{_BLOOM_BITS_UNION.format(src="hh")}
    ),
    words AS (
        SELECT word_idx, bit_or(mask) AS word FROM hbits GROUP BY word_idx
    ),
    inc AS (
        SELECT doc_id, md5(trim(lower(text))) AS fp
        FROM documents WHERE doc_id >= {_BLOOM_HIST_SPLIT}
    ),
    ih AS (
        SELECT doc_id, fp,
               CAST('0x' || substr(md5('bf1|' || fp), 1, 15) AS BIGINT) AS h1,
               CAST('0x' || substr(md5('bf2|' || fp), 1, 15) AS BIGINT) AS h2
        FROM inc
    ),
    ibits AS (
{_BLOOM_BITS_UNION.format(src="ih")}
    ),
    probed AS (
        SELECT b.doc_id, b.fp,
               bool_and(COALESCE((w.word & b.mask) = b.mask, FALSE))
                   AS maybe_seen
        FROM ibits b LEFT JOIN words w ON b.word_idx = w.word_idx
        GROUP BY b.doc_id, b.fp
    )
    SELECT p.doc_id, p.fp, p.maybe_seen,
           (h.fp IS NOT NULL) AS actually_seen
    FROM probed p LEFT JOIN hist h ON p.fp = h.fp
    ORDER BY p.doc_id
    """


@query(
    "dedup_bloom_incremental",
    oracle=DEDUP_BLOOM_INCREMENTAL_ORACLE,
    tier="local",
)
def dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-pass for incremental-ingest dedup
    (the scale refinement of dedup_incremental_new_docs): history's
    distinct fingerprints are compressed into a BLOOM_BITS_PER_KEY
    (20)-bits-per-key word table — built by ONE map-side-combinable
    bit_or aggregate — and the incoming batch probes it through a
    BROADCAST join, gaining ``maybe_seen`` (no false negatives: FALSE
    is definitely-new and skips the exact check entirely). Output
    carries ``actually_seen`` (the exact verdict) alongside, so the
    filter's contract is part of the compared result: every row must
    satisfy actually_seen => maybe_seen, and rows with maybe_seen AND
    NOT actually_seen are the (rare, ~2e-4 at k=7) false positives the
    exact verify pays for.

    At 100 TB: the full-history anti-join re-shuffles billions of
    fingerprint rows per ingest; the Bloom pass reduces that to (a) a
    one-time filter build amortized across ingests (the word table is
    mergeable by bit_or — union new batches in), and (b) an exact join
    ONLY for maybe-seen survivors — at a 0.1% daily-dup rate that is
    1000x less join input. All hash arithmetic is md5-derived 60-bit
    integers (h1 + 6*h2 < 2^63, exact in signed longs on both
    engines); words store 63 bits each because DuckDB raises on
    1::BIGINT << 63 where Spark wraps. The m = 20n sizing recomputes
    from a one-scalar count action (the bounded-materialization
    pattern of the k-means sample)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.trim(F.lower(F.col("text")))).alias("fp")
    # localCheckpoint (the graph-kernel lineage pattern): hist feeds the
    # sizing count, the filter build, AND the exact-verdict join; words
    # feeds k broadcast probes — without the checkpoint each consumer
    # re-runs the distinct/aggregate subtree (measured: 7x the build)
    hist = (
        docs.filter(F.col("doc_id") < _BLOOM_HIST_SPLIT)
        .select(fp).distinct().localCheckpoint()
    )
    m = bloom_m_bits(hist.count())
    words = bloom_build(hist, "fp", m).localCheckpoint()
    incoming = docs.filter(F.col("doc_id") >= _BLOOM_HIST_SPLIT).select("doc_id", fp)
    probed = bloom_probe(incoming, "fp", words, m)
    exact = hist.withColumn("actually_seen", F.lit(True))
    return (
        probed.join(F.broadcast(exact), "fp", "left")
        .select(
            "doc_id", "fp", "maybe_seen",
            F.coalesce("actually_seen", F.lit(False)).alias("actually_seen"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# dedup_minhash_jaccard_estimate: the accuracy contract of the MinHash
# sketch itself — signature-agreement estimate vs exact Jaccard per
# candidate pair.
# ---------------------------------------------------------------------------

_SIG_MATCHES_SQL = " + ".join(
    f"(CASE WHEN sa.h{j} = sb.h{j} THEN 1 ELSE 0 END)"
    for j in range(N_MINHASH)
)

# Deterministic audit-sample cap (r14 VERDICT item 4): the exact-Jaccard
# verify is pair-proportional, so an uncapped audit rides the FULL
# candidate-pair count — 8.5× for 10× data at the sf0.1→sf1 decade step
# (SCALESTEP_r14.json, 98 s at synthetic sf1, 3× the next-heaviest
# query). The audit's value is a statistically representative read on
# estimator drift, not exhaustive coverage, so it samples: pairs ranked
# by md5(doc_a||'|'||doc_b) — engine-portable, corpus-independent,
# uniform over pairs — keep the lowest AUDIT_PAIR_CAP. Below the cap
# (both fixture SFs: 34 / 804 pairs) output is the identical full set;
# above it the verify cost is bounded by the cap, never the corpus.
# Coverage is derivable from registered outputs alone: audited pairs =
# min(cap, |dedup_minhash_lsh_pairs|), the latter a driver-checked row
# count — no silent truncation (the no-silent-caps rule).
AUDIT_PAIR_CAP = 2048

_AUDIT_SEL_SQL = "md5(CAST(doc_a AS VARCHAR) || '|' || CAST(doc_b AS VARCHAR))"

DEDUP_MINHASH_JACCARD_ESTIMATE_ORACLE = f"""
    WITH {_CANDIDATES_CTE},
    audit AS (
        SELECT doc_a, doc_b FROM pairs
        ORDER BY {_AUDIT_SEL_SQL}, doc_a, doc_b
        LIMIT {AUDIT_PAIR_CAP}
    ),
    da AS (
        SELECT DISTINCT doc_id, unnest(s) AS sx FROM sh WHERE len(s) > 0
    ),
    szs AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM da GROUP BY doc_id),
    inter AS (
        SELECT p.doc_a, p.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM audit p
        JOIN da a ON a.doc_id = p.doc_a
        JOIN da b ON b.doc_id = p.doc_b AND b.sx = a.sx
        GROUP BY p.doc_a, p.doc_b
    )
    SELECT p.doc_a, p.doc_b,
           CAST({_SIG_MATCHES_SQL} AS BIGINT) AS n_matches,
           CAST(({_SIG_MATCHES_SQL}) * 1000000 // {N_MINHASH} AS BIGINT)
               AS est_jaccard_ppm,
           CAST(COALESCE(i.n_inter, 0) * 1000000
                // (za.n + zb.n - COALESCE(i.n_inter, 0)) AS BIGINT)
               AS jaccard_ppm,
           CAST(ABS(({_SIG_MATCHES_SQL}) * 1000000 // {N_MINHASH}
                    - COALESCE(i.n_inter, 0) * 1000000
                      // (za.n + zb.n - COALESCE(i.n_inter, 0)))
                AS BIGINT) AS err_ppm
    FROM audit p
    JOIN sig sa ON sa.doc_id = p.doc_a
    JOIN sig sb ON sb.doc_id = p.doc_b
    JOIN szs za ON za.doc_id = p.doc_a
    JOIN szs zb ON zb.doc_id = p.doc_b
    LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    ORDER BY p.doc_a, p.doc_b
    """


@query(
    "dedup_minhash_jaccard_estimate",
    oracle=DEDUP_MINHASH_JACCARD_ESTIMATE_ORACLE,
    tier="local",
)
def dedup_minhash_jaccard_estimate(
    spark: SparkSession, sf_dir: str, audit_cap: int = AUDIT_PAIR_CAP
) -> DataFrame:
    """The MinHash sketch's OWN accuracy contract (the
    agg_approx_sketches philosophy applied to the dedup family): for
    every LSH candidate pair, the signature-agreement estimate
    (matching positions / 8, in ppm — the statistic whose expectation
    IS the Jaccard similarity, Broder 1997) next to the EXACT shingle
    Jaccard and the absolute error, so estimator drift shows up as a
    red row rather than silently degraded dedup recall. Candidate
    pairs, signatures, and shingle sets all reuse the family's shared
    kernels/CTEs — one shingle-hash pipeline feeds everything.

    Scale shape: the signature join attaches two 8-column rows per
    pair (pair-table-sized); the exact-Jaccard verify joins the
    distinct (doc, shingle) table ONLY for candidate-pair docs (the
    dedup_ngram_jaccard discipline — at 100 TB the verify cost rides
    the candidate count, never the corpus); the intersection join is
    shingle-keyed with LEFT JOIN + COALESCE for the no-overlap edge
    (media_feature_extract precedent). The candidate set itself is
    capped at ``audit_cap`` pairs via a deterministic engine-portable
    md5 ranking (rationale + coverage accounting at AUDIT_PAIR_CAP
    above; TakeOrderedAndProject, never a full sort), so at any scale
    the verify cost is min(cap, pairs)-proportional."""
    from ..operators.dedup import (
        minhash_signature_cols,
        shingles_from_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    sel = F.md5(F.concat_ws("|", "doc_a", "doc_b"))
    pairs = (
        shared_minhash_pairs(spark, sf_dir)
        .orderBy(sel.asc(), "doc_a", "doc_b")
        .limit(audit_cap)
        .localCheckpoint()
    )
    # the verify cost must ride the CANDIDATE count, never the corpus
    # (dedup_ngram_jaccard discipline): restrict the shingle/signature
    # pipelines to pair members with keys-only semi joins before any
    # aggregation or pair join
    pair_docs = (
        pairs.select(F.col("doc_a").alias("doc"))
        .union(pairs.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    toked = fan_out(docs).select(
        F.col("doc_id").alias("doc"),
        shingles_from_tokens(tokens(F.col("text"))).alias("s"),
    ).filter(F.size("s") > 0)
    hashed = toked.join(pair_docs, "doc", "left_semi").select(
        "doc",
        F.explode("s").alias("sx"),
    )
    sig = (
        hashed.select(
            "doc", F.md5(F.concat(F.lit("mh|"), F.col("sx"))).alias("h")
        )
        .groupBy("doc")
        .agg(*minhash_signature_cols())
    )
    da = hashed.distinct()
    szs = da.groupBy("doc").agg(F.count(F.lit(1)).cast("long").alias("n"))
    inter = (
        pairs.join(da.select(F.col("doc").alias("doc_a"), "sx"), "doc_a")
        .join(
            da.select(F.col("doc").alias("doc_b"), "sx"),
            ["doc_b", "sx"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    matches = sum(
        F.when(F.col(f"a_h{j}") == F.col(f"b_h{j}"), 1).otherwise(0)
        for j in range(N_MINHASH)
    ).cast("long")
    sa = sig.select(
        F.col("doc").alias("doc_a"),
        *[F.col(f"h{j}").alias(f"a_h{j}") for j in range(N_MINHASH)],
    )
    sb = sig.select(
        F.col("doc").alias("doc_b"),
        *[F.col(f"h{j}").alias(f"b_h{j}") for j in range(N_MINHASH)],
    )
    est = F.expr(f"n_matches * 1000000 DIV {N_MINHASH}")
    jac = F.expr("n_inter * 1000000 DIV (na + nb - n_inter)")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(szs.select(F.col("doc").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(szs.select(F.col("doc").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            matches.alias("n_matches"),
            "na",
            "nb",
            F.coalesce(F.col("n_inter"), F.lit(0)).cast("long")
            .alias("n_inter"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_matches",
            est.cast("long").alias("est_jaccard_ppm"),
            jac.cast("long").alias("jaccard_ppm"),
            F.abs(est - jac).cast("long").alias("err_ppm"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# sample_hard_negatives: contrastive-training negative mining from the
# LSH candidate stream.
# ---------------------------------------------------------------------------

NEG_PER_ANCHOR = 2       # hardest negatives kept per anchor document
NEG_DUP_THRESHOLD = 0.5  # at/above this the pair is a NEAR-DUP, not a negative

SAMPLE_HARD_NEGATIVES_ORACLE = f"""
    WITH {_CANDIDATES_CTE},
    scored AS (
        SELECT p.doc_a, p.doc_b,
               CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                   / len(list_distinct(sa.s || sb.s)) AS jc
        FROM pairs p
        JOIN sh sa ON sa.doc_id = p.doc_a
        JOIN sh sb ON sb.doc_id = p.doc_b
    ),
    kept AS (
        SELECT doc_a, doc_b, jc FROM scored
        WHERE jc < {NEG_DUP_THRESHOLD}
        QUALIFY row_number() OVER (PARTITION BY doc_a
                                   ORDER BY jc DESC, doc_b)
                <= {NEG_PER_ANCHOR}
    )
    SELECT doc_a AS anchor, doc_b AS negative,
           FLOOR(jc * 1000000 + 0.5) / 1000000 AS jaccard_3gram
    FROM kept
    ORDER BY anchor, negative
    """


@query(
    "sample_hard_negatives",
    oracle=SAMPLE_HARD_NEGATIVES_ORACLE,
    tier="local",
)
def sample_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE mining for contrastive training (retrieval /
    embedding models): the strongest negatives are documents that
    COLLIDE in hash space (share an LSH band — so a lexical model
    finds them confusable) yet sit BELOW the near-dup threshold on
    exact 3-gram Jaccard — the semi-hard band between 'duplicate'
    (a positive, dedup_ngram_jaccard's >= 0.5 side) and 'random
    negative' (never collides at all). Keeps the NEG_PER_ANCHOR (2)
    highest-Jaccard sub-threshold partners per anchor under a
    deterministic tiebreak.

    Scale shape: identical cost envelope to dedup_ngram_jaccard — the
    pair stream comes from the SHARED capped band table (one session
    computation feeds the LSH pairs, the components, the funnel, and
    this miner), shingles ride as int64 arrays, and the only new stage
    is a per-anchor WindowGroupLimit (two-phase, partial limit before
    the shuffle). The complement filter means this query and the
    near-dup verifier PARTITION the candidate stream — nothing is
    scored twice at 100 TB, the pipeline just routes by threshold."""
    from ..operators.dedup import shingles_from_tokens
    from ..operators.similarity import round6
    from ..operators.text import tokens
    from ..sources.parquet_io import fan_out
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sh = (
        fan_out(docs)
        .withColumn("_toks", tokens(F.col("text")))
        .select(
            "doc_id",
            F.transform(
                shingles_from_tokens(F.col("_toks"), 3), lambda x: F.xxhash64(x)
            ).alias("s"),
        )
    )
    pairs = shared_minhash_pairs(spark, sf_dir)
    jc = jaccard(F.col("sa.s"), F.col("sb.s"))
    w = Window.partitionBy("doc_a").orderBy(F.desc("_jc"), F.asc("doc_b"))
    return (
        pairs.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sh.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn("_jc", jc)
        .filter(F.col("_jc") < NEG_DUP_THRESHOLD)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= NEG_PER_ANCHOR)
        .select(
            F.col("doc_a").alias("anchor"),
            F.col("doc_b").alias("negative"),
            round6(F.col("_jc")).alias("jaccard_3gram"),
        )
        .orderBy("anchor", "negative")
    )

"""Mergeable-sketch queries: HyperLogLog registers, count-min
counters, and (r11) the k-minimum-values order-statistics sketch —
three merge disciplines (max, sum, min-k-of-union), all with an
exact-integer contract.

The reference has no sketch surface beyond its exact aggregates; the
registered ``agg_approx_sketches`` query covers Spark's built-in
``approx_count_distinct`` CONTRACT (error-bound booleans against the
exact answer). This module adds the thing the built-in hides: the
REGISTER STATE itself as a first-class mergeable table — the shape a
100 TB pipeline actually ships between stages (per-partition /
per-day register tables merged by MAX, never re-scanning the raw
keys; the same monoid-composition story ``day_rollup_state`` attests
for sums).

Everything is integer arithmetic so the DuckDB twin is hash-exact:

* hash: the well-known 32-bit avalanche ``x = ((x >> 16) ^ x) *
  0x45d9f3b (mod 2^32)`` applied twice plus a final fold — every
  intermediate <= 2^32 * 0x45d9f3b ~ 3.2e17, inside int64 on BOTH
  engines (Spark ANSI multiply never overflows, DuckDB never errors).
  Production keys wider than 32 bits would ride xxhash64 instead;
  DuckDB has no xxhash64, and the CONTRACT here is the register
  algebra, not the hash family.
* rho (leading-zero rank of the 26-bit suffix) via LENGTH(BIN(w)) —
  the exact string-op bit-length idiom ``text_lm_familiarity``
  established.
* the harmonic denominator is kept 2^27-scaled: S = sum of
  2^(27 - r_j) with absent registers contributing 2^27 each — exact
  BIGINT, order-free.
* the estimate is a single integer division of a precomputed literal
  numerator (alpha_64 * m^2 * 2^27 * 1e6, alpha_64 = 0.709365 from
  Flajolet et al. 2007) by S * 1e6 — correctly-rounded-free, so no
  float ever enters the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_io import load_table
from .registry import query

HLL_P = 6                      # 2^6 = 64 registers
HLL_M = 1 << HLL_P
_W_MOD = 1 << (32 - HLL_P)     # 26-bit suffix window
_RHO_MAX = 27                  # 26 suffix bits all zero -> rho = 27
_MOD32 = 1 << 32
_MIX = 0x45D9F3B               # 73244475
# alpha_64 * m^2 * 2^27, ppm-scaled: 709365 * 64 * 64 * 2^27
_EST_NUM = 389977532918661120


def _hash32_sql(x: str) -> str:
    """The avalanche hash as engine-portable SQL (DuckDB spelling uses
    xor(); Spark's twin below uses ^). Input must be < 2^32. The input
    expression is re-parenthesized before the `// 65536` shift — a
    compound input like `a * 16 + b` would otherwise bind as
    `a*16 + (b // 65536)` and fold the xor to zero (caught by the JL
    projection's cross-engine compare; the Spark twin always
    parenthesized)."""
    h1 = f"(xor(({x}) // 65536, ({x})) * {_MIX}) % {_MOD32}"
    h2 = f"(xor(({h1}) // 65536, ({h1})) * {_MIX}) % {_MOD32}"
    return f"xor(({h2}) // 65536, ({h2}))"


def _hash32_spark_sql(x: str) -> str:
    """The same avalanche in Spark SQL spelling (^ for xor, DIV)."""
    h1 = f"(((({x}) DIV 65536) ^ ({x})) * {_MIX}) % {_MOD32}"
    h2 = f"(((({h1}) DIV 65536) ^ ({h1})) * {_MIX}) % {_MOD32}"
    return f"(({h2}) DIV 65536) ^ ({h2})"


def _hash32_col(x: str) -> F.Column:
    return F.expr(_hash32_spark_sql(x))


AGG_HLL_REGISTERS_ORACLE = f"""
    WITH keys AS (
        SELECT CAST(year(o_orderdate) AS VARCHAR) AS grp,
               o_custkey % {_MOD32} AS x
        FROM orders
    ),
    h AS (SELECT grp, {_hash32_sql('x')} AS h FROM keys),
    rr AS (
        SELECT grp, h // {_W_MOD} AS idx,
               CASE WHEN h % {_W_MOD} = 0 THEN {_RHO_MAX}
                    ELSE {_RHO_MAX} - LENGTH(BIN(h % {_W_MOD})) END AS rho
        FROM h
    ),
    regs AS (SELECT grp, idx, MAX(rho) AS r FROM rr GROUP BY grp, idx),
    merged AS (
        SELECT 'all' AS grp, idx, MAX(r) AS r FROM regs GROUP BY idx
    ),
    u AS (SELECT * FROM regs UNION ALL SELECT * FROM merged),
    st AS (
        SELECT grp,
               CAST(COUNT(*) AS BIGINT) AS nonzero_registers,
               CAST(SUM(1::BIGINT << ({_RHO_MAX} - r)) AS BIGINT)
                   + ({HLL_M} - COUNT(*)) * {1 << _RHO_MAX} AS harmonic_scaled
        FROM u GROUP BY grp
    ),
    exact AS (
        SELECT grp, CAST(COUNT(DISTINCT x) AS BIGINT) AS exact_distinct
        FROM keys GROUP BY grp
        UNION ALL
        SELECT 'all', CAST(COUNT(DISTINCT x) AS BIGINT) FROM keys
    )
    SELECT s.grp,
           s.nonzero_registers,
           {HLL_M} - s.nonzero_registers AS zero_registers,
           s.harmonic_scaled,
           {_EST_NUM} // (s.harmonic_scaled * 1000000) AS est_distinct,
           e.exact_distinct
    FROM st s JOIN exact e ON s.grp = e.grp
    ORDER BY s.grp
    """


@query("agg_hll_registers", oracle=AGG_HLL_REGISTERS_ORACLE, tier="local")
def agg_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-customer registers per order year, plus an
    'all' row MERGED FROM the per-year register tables (max per
    register index — never a re-scan of the keys): the mergeable-sketch
    algebra a 100 TB pipeline ships between stages. The 'all' row's
    estimate deduplicates customers ACROSS years (sum of per-year
    exacts would not) — the property that makes register tables, not
    counts, the right intermediate.

    Output per group: nonzero/zero register counts, the exact
    2^27-scaled harmonic denominator, the integer HLL estimate, and
    the exact distinct count as the accuracy audit (the audit column
    is the expensive COUNT(DISTINCT) the sketch replaces — production
    drops it; it rides here so the driver-style compare attests
    estimator quality round after round).

    Plan: hash/idx/rho are narrow column arithmetic; registers are ONE
    map-side-combinable aggregate on (grp, idx) — each map partition
    emits at most groups x 64 rows, so the exchange is sketch-sized,
    not key-sized (THE selling point at scale); the merge is a second
    aggregate over that already-tiny table. See module docstring for
    the exactness contract."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("string").alias("grp"),
        (F.col("o_custkey") % F.lit(_MOD32)).alias("x"),
    )
    return hll_registers_frame(orders)


def hll_registers_frame(keys: DataFrame) -> DataFrame:
    """Core of agg_hll_registers over any (grp: string, x: long < 2^32)
    frame — split out so planted-key tests can drive the register
    algebra, the merge law, and the estimator directly."""
    rr = keys.select(
        "grp",
        "x",
        _hash32_col("x").alias("h"),
    ).select(
        "grp",
        "x",
        F.expr(f"h DIV {_W_MOD}").alias("idx"),
        F.expr(
            f"CASE WHEN h % {_W_MOD} = 0 THEN {_RHO_MAX} "
            f"ELSE {_RHO_MAX} - LENGTH(BIN(h % {_W_MOD})) END"
        ).alias("rho"),
    )
    regs = (
        rr.groupBy("grp", "idx")
        .agg(F.max("rho").alias("r"))
        .localCheckpoint()  # feeds both the stats and the merge
    )
    merged = regs.groupBy("idx").agg(F.max("r").alias("r")).select(
        F.lit("all").alias("grp"), "idx", "r"
    )
    u = regs.select("grp", "idx", "r").unionAll(merged)
    st = u.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("nonzero_registers"),
        (
            F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {_RHO_MAX} - r)")
            ).cast("long")
            + (F.lit(HLL_M) - F.count(F.lit(1)))
            * F.lit(1 << _RHO_MAX)
        ).cast("long").alias("harmonic_scaled"),
    )
    exact = rr.groupBy("grp").agg(
        F.countDistinct("x").cast("long").alias("exact_distinct")
    ).unionAll(
        rr.agg(
            F.countDistinct("x").cast("long").alias("exact_distinct")
        ).select(F.lit("all").alias("grp"), "exact_distinct")
    )
    return (
        st.join(exact, "grp")
        .select(
            "grp",
            "nonzero_registers",
            (F.lit(HLL_M) - F.col("nonzero_registers"))
            .cast("long").alias("zero_registers"),
            "harmonic_scaled",
            F.expr(
                f"{_EST_NUM} DIV (harmonic_scaled * 1000000)"
            ).alias("est_distinct"),
            "exact_distinct",
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# agg_cms_frequencies: count-min sketch register algebra (the SUM-merge
# twin of the HLL MAX-merge above).
# ---------------------------------------------------------------------------

CMS_D = 4            # hash rows
CMS_W = 1024         # counters per row (top-10-bit column index)
CMS_TOP_K = 20       # probe workload: the hottest parts by exact count
# per-row salts xor-ed into the key before the avalanche (< 2^32 so the
# hash input stays < 2^32)
CMS_SALTS = (0, 0x5BD1E995, 0x27D4EB2F, 0x165667B1)


def _cms_cols_sql(x: str) -> list[str]:
    return [
        f"({_hash32_sql(f'xor({x}, {salt})')}) // {1 << 22}"
        for salt in CMS_SALTS
    ]


AGG_CMS_FREQUENCIES_ORACLE = f"""
    WITH keys AS (
        SELECT l_partkey % {_MOD32} AS x FROM lineitem
    ),
    cells AS (
        {" UNION ALL ".join(
            f"SELECT {r} AS r, {col} AS col, x FROM keys"
            for r, col in enumerate(_cms_cols_sql('x'))
        )}
    ),
    -- the oracle builds the GLOBAL counter table directly; the Spark
    -- side builds per-month tables and SUM-merges them — hash equality
    -- attests the merge law end-to-end
    counters AS (
        SELECT r, col, CAST(COUNT(*) AS BIGINT) AS c
        FROM cells GROUP BY r, col
    ),
    top AS (
        SELECT x, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        FROM keys GROUP BY x
        ORDER BY exact_cnt DESC, x LIMIT {CMS_TOP_K}
    ),
    probes AS (
        {" UNION ALL ".join(
            f"SELECT x, exact_cnt, {r} AS r, {col} AS col FROM top"
            for r, col in enumerate(_cms_cols_sql('x'))
        )}
    )
    SELECT p.x AS part_key, p.exact_cnt,
           MIN(c.c) AS est_cnt,
           MIN(c.c) - p.exact_cnt AS overestimate
    FROM probes p JOIN counters c ON p.r = c.r AND p.col = c.col
    GROUP BY p.x, p.exact_cnt
    ORDER BY exact_cnt DESC, part_key
    """


@query("agg_cms_frequencies", oracle=AGG_CMS_FREQUENCIES_ORACLE, tier="local")
def agg_cms_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over part purchase frequencies, with the merge
    law attested cross-engine: the Spark side builds PER-MONTH counter
    tables and SUM-merges them into the global sketch (the incremental
    shape — a new month's counters add in without touching history);
    the DuckDB twin builds the global counters DIRECTLY from the keys.
    Hash equality between the two IS the proof that count-min counters
    form a commutative monoid under + (the property that lets 100 TB
    pipelines maintain them per-partition/per-day and merge).

    The probe workload is the CMS_TOP_K hottest parts by exact count
    (deterministic tiebreak); each returns exact_cnt, the sketch
    estimate (min over CMS_D row counters — integer, never below the
    truth), and the overestimate. The one-sided error contract
    (overestimate >= 0 always; <= e*N/W per row with prob 1 - e^-D) is
    pinned in tests/test_sketch.py.

    Plan: the cell stream is a narrow 4x explode of hash arithmetic;
    counters are ONE map-side-combinable aggregate bounded by
    months x D x W rows on the wire (sketch-sized, not key-sized —
    same argument as the HLL registers); the merge is a second
    aggregate over that tiny table; probes ride a BROADCAST of the
    top-k rows. The exact-count workload fit is the only key-sized
    exchange and exists to audit the sketch — production reads probes
    from outside."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % F.lit(_MOD32)).alias("x"),
        F.month("l_shipdate").alias("mth"),
    )
    return cms_frequencies_frame(li)


def _cell_structs() -> list[F.Column]:
    """One (r, col) struct per CMS hash row for a frame's ``x`` column."""
    out = []
    for r, salt in enumerate(CMS_SALTS):
        key = f"x ^ {salt}" if salt else "x"
        col = f"CAST(({_hash32_spark_sql(key)}) DIV {1 << 22} AS BIGINT)"
        out.append(
            F.struct(F.lit(r).alias("r"), F.expr(col).alias("col"))
        )
    return out


def cms_counter_state(keys: DataFrame) -> DataFrame:
    """The count-min COUNTER STATE of a (x: long < 2^32) frame:
    (r, col, c) rows, one map-side-combinable aggregate bounded by
    D x W rows on the wire. This is the mergeable unit — two frames'
    states SUM-merge into the union's state (the monoid law
    agg_cms_frequencies attests cross-engine; the streaming
    maintenance sink appends one of these per micro-batch)."""
    return (
        keys.select("x", F.explode(F.array(*_cell_structs())).alias("cell"))
        .select("cell.r", "cell.col")
        .groupBy("r", "col")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def cms_frequencies_frame(li: DataFrame, top_k: int = CMS_TOP_K) -> DataFrame:
    """Core of agg_cms_frequencies over any (x: long < 2^32, mth: int)
    frame — split out so planted-key tests can drive the counter
    algebra, the merge law, and the one-sided error contract."""
    cells = li.select(
        "x", "mth", F.explode(F.array(*_cell_structs())).alias("cell")
    ).select("x", "mth", "cell.r", "cell.col")
    monthly = cells.groupBy("mth", "r", "col").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    counters = (
        monthly.groupBy("r", "col")
        .agg(F.sum("c").cast("long").alias("c"))
        .localCheckpoint()  # probed once per hash row below
    )
    top = (
        li.groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "x")
        .limit(top_k)
    )
    probes = top.select(
        "x",
        "exact_cnt",
        F.explode(F.array(*_cell_structs())).alias("cell"),
    ).select("x", "exact_cnt", "cell.r", "cell.col")
    return (
        F.broadcast(probes)
        .join(counters, ["r", "col"])
        .groupBy("x", "exact_cnt")
        .agg(F.min("c").alias("est_cnt"))
        .select(
            F.col("x").alias("part_key"),
            "exact_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("exact_cnt")).alias("overestimate"),
        )
        .orderBy(F.desc("exact_cnt"), "part_key")
    )


def hll_register_state(keys: DataFrame) -> DataFrame:
    """The HLL REGISTER STATE of an (x: long < 2^32) frame: (idx, r)
    rows, one map-side-combinable aggregate bounded by HLL_M (64) rows
    on the wire. This is the mergeable unit of the HLL family — two
    frames' states MAX-merge per register index into the union's state
    (the law agg_hll_registers' 'all' row attests cross-engine; the
    streaming maintenance sink appends one of these per micro-batch).
    Unlike the rollup/CMS/candle monoids this one is IDEMPOTENT
    (max ∘ max), so it absorbs retries even without batch_id dedup —
    the read side dedups anyway to keep one uniform sink contract."""
    rr = keys.select(_hash32_col("x").alias("h")).select(
        F.expr(f"h DIV {_W_MOD}").alias("idx"),
        F.expr(
            f"CASE WHEN h % {_W_MOD} = 0 THEN {_RHO_MAX} "
            f"ELSE {_RHO_MAX} - LENGTH(BIN(h % {_W_MOD})) END"
        ).cast("long").alias("rho"),
    )
    return rr.groupBy("idx").agg(F.max("rho").cast("long").alias("r"))


# ---------------------------------------------------------------------------
# agg_kmv_distinct: the k-minimum-values distinct sketch — third member
# of the mergeable-sketch family (CMS counters, HLL registers, KMV
# order statistics).
# ---------------------------------------------------------------------------

KMV_K = 16

AGG_KMV_DISTINCT_ORACLE = f"""
    WITH keys AS (
        SELECT event_type AS grp, user_id % {_MOD32} AS x FROM events
        UNION ALL
        SELECT 'all' AS grp, user_id % {_MOD32} AS x FROM events
    ),
    h AS (SELECT DISTINCT grp, {_hash32_sql('x')} AS h FROM keys),
    rk AS (
        SELECT grp, h,
               ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn,
               COUNT(*) OVER (PARTITION BY grp) AS n_distinct
        FROM h
    ),
    sk AS (
        SELECT grp, MAX(h) AS kth_hash,
               CAST(COUNT(*) AS BIGINT) AS n_sketch,
               MAX(n_distinct) AS n_distinct
        FROM rk WHERE rn <= {KMV_K} GROUP BY grp
    )
    SELECT grp,
           CAST(n_sketch AS BIGINT) AS n_sketch,
           CAST(kth_hash AS BIGINT) AS kth_hash,
           CAST(CASE WHEN n_sketch < {KMV_K} THEN n_sketch
                     ELSE ({KMV_K} - 1) * {_MOD32} // kth_hash
                END AS BIGINT) AS est_distinct,
           CAST(n_distinct AS BIGINT) AS n_exact
    FROM sk
    ORDER BY grp
    """


@query("agg_kmv_distinct", oracle=AGG_KMV_DISTINCT_ORACLE, tier="local")
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct sketch (Bar-Yossef et al. 2002): per
    event type keep the KMV_K (16) smallest DISTINCT avalanche-hash values of
    user_id; the k-th smallest U estimates distinct = (k-1)·2^32 DIV U
    — one truncating integer division, no float. The third mergeable
    sketch next to the CMS counter table (sum-merge) and HLL registers
    (max-merge): KMV merges by "k smallest of the union of sketches",
    and THIS QUERY ATTESTS THE MERGE LAW ITSELF — the Spark 'all' row
    is built by MERGING the five per-type sketch sets (never rescanning
    users), while the oracle computes the global k-minimums directly
    from the raw keys; hash equality proves min-k(∪ sketches) =
    min-k(all keys), the cms_frequencies precedent. Groups with fewer
    than k distinct keys report the exact count (the standard KMV
    small-cardinality fallback), CASE'd identically on both engines.

    Scale shape: one distinct (grp, hash) aggregate (map-side
    combinable), a two-phase WindowGroupLimit top-k per group (rule
    R5), and a k·groups-row merge — the raw keys never leave the first
    aggregate. n_exact rides along for the error-contract read
    (agg_approx_sketches' pattern)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    keys = ev.select(
        F.col("event_type").alias("grp"),
        F.expr(f"user_id % {_MOD32}").alias("x"),
    )
    h = keys.select("grp", _hash32_col("x").alias("h")).distinct()
    w = Window.partitionBy("grp").orderBy("h")
    per_type = (
        h.select("grp", "h", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= KMV_K)
        .select("grp", "h")
    )
    # exact distinct per type (the error-contract column), and the
    # merged 'all' sketch built FROM the per-type sketches: min-k of
    # the union of the six k-min sets, never re-touching raw keys.
    n_exact = h.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    all_h = per_type.select(F.lit("all").alias("grp"), "h").distinct()
    all_sketch = (
        all_h.select("grp", "h", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= KMV_K)
        .select("grp", "h")
    )
    n_exact_all = h.select("h").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    ).select(F.lit("all").alias("grp"), "n_exact")
    sketches = per_type.unionByName(all_sketch)
    totals = n_exact.unionByName(n_exact_all)
    sk = sketches.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_sketch"),
        F.max("h").cast("long").alias("kth_hash"),
    )
    return (
        sk.join(F.broadcast(totals), "grp")
        .select(
            "grp",
            "n_sketch",
            "kth_hash",
            F.when(
                F.col("n_sketch") < KMV_K, F.col("n_sketch")
            ).otherwise(
                F.expr(f"({KMV_K} - 1) * {_MOD32} DIV kth_hash")
            ).cast("long").alias("est_distinct"),
            F.col("n_exact").alias("n_exact"),
        )
        .orderBy("grp")
    )


def kmv_sketch_state(keys: DataFrame) -> DataFrame:
    """The KMV sketch of a key slice (column ``x``) as STATE ROWS: the
    KMV_K smallest distinct avalanche hashes, one row per retained
    hash. Min-k is a mergeable monoid — min-k(A ∪ B) =
    min-k(min-k(A) ∪ min-k(B)) — so per-batch slices of ≤ k rows
    merge on read without ever revisiting raw keys; like HLL's
    max-merge (and unlike rollup sums), the merge is IDEMPOTENT, so a
    retried slice is absorbed even before batch_id dedup."""
    h = keys.select(_hash32_col("x").alias("h")).distinct()
    return h.orderBy("h").limit(KMV_K)


def kmv_estimate(sketch: DataFrame) -> DataFrame:
    """Fold KMV state rows to the (n_sketch, kth_hash, est_distinct)
    serving row — estimate = (k-1)·2^32 DIV kth, exact-count fallback
    below k (agg_kmv_distinct's arithmetic over any state frame)."""
    return sketch.agg(
        F.count(F.lit(1)).cast("long").alias("n_sketch"),
        F.max("h").cast("long").alias("kth_hash"),
    ).select(
        "n_sketch",
        "kth_hash",
        F.when(F.col("n_sketch") < KMV_K, F.col("n_sketch"))
        .otherwise(F.expr(f"({KMV_K} - 1) * {_MOD32} DIV kth_hash"))
        .cast("long").alias("est_distinct"),
    )

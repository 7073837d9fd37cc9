"""Column-profiling queries: the data-quality summary a warehouse runs
before trusting a new drop (null rates, cardinalities, ranges) — one
output row per profiled column, every statistic an exact integer or a
deterministically-rendered string so the DuckDB twin is hash-exact.

Rendering rules (the cross-engine trap here is STRING FORMATTING, not
arithmetic):
  * longs render via CAST(x AS STRING) — identical on both engines;
  * timestamps render truncated to whole seconds via strftime-style
    formatting (sub-second trailing-zero trimming differs between the
    engines' native casts);
  * doubles render as exact CENTS integers (the money.py idiom —
    min/max commute with the monotonic cents transform), never as a
    float-to-string cast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import cents
from ..sources.events import load_events
from ..sources.parquet_io import load_table
from .registry import query

PROFILE_FACT_COLUMNS_ORACLE = """
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM events)
    SELECT col_name, data_type, n_rows, null_count, distinct_count,
           min_repr, max_repr
    FROM (
        SELECT 1 AS ord, 'event_id' AS col_name, 'long' AS data_type,
               n.n_rows,
               n.n_rows - CAST(COUNT(event_id) AS BIGINT) AS null_count,
               CAST(COUNT(DISTINCT event_id) AS BIGINT) AS distinct_count,
               CAST(MIN(event_id) AS VARCHAR) AS min_repr,
               CAST(MAX(event_id) AS VARCHAR) AS max_repr
        FROM events, n GROUP BY n.n_rows
        UNION ALL
        SELECT 2, 'ts', 'timestamp', n.n_rows,
               n.n_rows - CAST(COUNT(ts) AS BIGINT),
               CAST(COUNT(DISTINCT ts) AS BIGINT),
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S'),
               strftime(MAX(ts), '%Y-%m-%d %H:%M:%S')
        FROM events, n GROUP BY n.n_rows
        UNION ALL
        SELECT 3, 'user_id', 'long', n.n_rows,
               n.n_rows - CAST(COUNT(user_id) AS BIGINT),
               CAST(COUNT(DISTINCT user_id) AS BIGINT),
               CAST(MIN(user_id) AS VARCHAR),
               CAST(MAX(user_id) AS VARCHAR)
        FROM events, n GROUP BY n.n_rows
        UNION ALL
        SELECT 4, 'event_type', 'string', n.n_rows,
               n.n_rows - CAST(COUNT(event_type) AS BIGINT),
               CAST(COUNT(DISTINCT event_type) AS BIGINT),
               MIN(event_type), MAX(event_type)
        FROM events, n GROUP BY n.n_rows
        UNION ALL
        SELECT 5, 'value', 'double(cents)', n.n_rows,
               n.n_rows - CAST(COUNT(value) AS BIGINT),
               CAST(COUNT(DISTINCT value) AS BIGINT),
               CAST(MIN(CAST(FLOOR(value * 100 + 0.5e0) AS BIGINT))
                    AS VARCHAR),
               CAST(MAX(CAST(FLOOR(value * 100 + 0.5e0) AS BIGINT))
                    AS VARCHAR)
        FROM events, n GROUP BY n.n_rows
        UNION ALL
        SELECT 6, 'props', 'string', n.n_rows,
               n.n_rows - CAST(COUNT(props) AS BIGINT),
               CAST(COUNT(DISTINCT props) AS BIGINT),
               MIN(props), MAX(props)
        FROM events, n GROUP BY n.n_rows
    ) ORDER BY ord
    """


@query(
    "profile_fact_columns",
    oracle=PROFILE_FACT_COLUMNS_ORACLE,
    tier="local",
)
def profile_fact_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the events fact: one row per column with null
    count, exact distinct count, and deterministically-rendered
    min/max (see module docstring for the rendering rules). This is
    the pre-ingest data-quality gate a warehouse runs on every new
    drop — the schema the output mirrors is what tools like Deequ /
    dbt tests materialize.

    Plan: ONE pass computes every per-column aggregate in a single
    scalar row (Spark evaluates the COUNT/MIN/MAX family map-side and
    folds one partial row per partition — no wide exchange at all for
    those), PLUS one exact COUNT(DISTINCT) per column. Exact distincts
    are the deliberate audit-grade choice at fixture scale and the
    expensive term at 100 TB — the production swap is the mergeable
    HLL register sketch (``agg_hll_registers`` in this package, same
    output slot, documented error envelope); everything else in this
    profile stays cheap at any scale. The 6-row presentation unpivots
    the scalar row driver-side via a literal stack — no second scan."""
    ev = load_events(spark, sf_dir)
    cents = lambda c: F.floor(F.col(c) * 100 + F.lit(0.5)).cast("long")  # noqa: E731
    agg = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        # event_id
        F.count("event_id").cast("long").alias("c1"),
        F.countDistinct("event_id").cast("long").alias("d1"),
        F.min("event_id").cast("string").alias("lo1"),
        F.max("event_id").cast("string").alias("hi1"),
        # ts
        F.count("ts").cast("long").alias("c2"),
        F.countDistinct("ts").cast("long").alias("d2"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("lo2"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("hi2"),
        # user_id
        F.count("user_id").cast("long").alias("c3"),
        F.countDistinct("user_id").cast("long").alias("d3"),
        F.min("user_id").cast("string").alias("lo3"),
        F.max("user_id").cast("string").alias("hi3"),
        # event_type
        F.count("event_type").cast("long").alias("c4"),
        F.countDistinct("event_type").cast("long").alias("d4"),
        F.min("event_type").alias("lo4"),
        F.max("event_type").alias("hi4"),
        # value (cents rendering; min/max commute with the monotonic
        # cents transform so aggregating the raw column is identical)
        F.count("value").cast("long").alias("c5"),
        F.countDistinct("value").cast("long").alias("d5"),
        F.min(cents("value")).cast("string").alias("lo5"),
        F.max(cents("value")).cast("string").alias("hi5"),
        # props
        F.count("props").cast("long").alias("c6"),
        F.countDistinct("props").cast("long").alias("d6"),
        F.min("props").alias("lo6"),
        F.max("props").alias("hi6"),
    )
    cols = [
        (1, "event_id", "long"),
        (2, "ts", "timestamp"),
        (3, "user_id", "long"),
        (4, "event_type", "string"),
        (5, "value", "double(cents)"),
        (6, "props", "string"),
    ]
    stack = ", ".join(
        f"{i}, '{name}', '{dt}', c{i}, d{i}, lo{i}, hi{i}"
        for i, name, dt in cols
    )
    return (
        agg.select(
            "n_rows",
            F.expr(
                f"stack({len(cols)}, {stack}) AS "
                "(ord, col_name, data_type, cnt, distinct_count,"
                " min_repr, max_repr)"
            ),
        )
        .select(
            "col_name",
            "data_type",
            "n_rows",
            (F.col("n_rows") - F.col("cnt")).alias("null_count"),
            "distinct_count",
            "min_repr",
            "max_repr",
            "ord",
        )
        .orderBy("ord")
        .drop("ord")
    )


# ---------------------------------------------------------------------------
# histogram_equi_depth: exact equal-frequency histogram via the
# distributed rank decomposition.
# ---------------------------------------------------------------------------

HISTOGRAM_BUCKETS = 10

HISTOGRAM_EQUI_DEPTH_ORACLE = f"""
    WITH r AS (
        SELECT CAST(l_quantity AS BIGINT) AS v,
               ROW_NUMBER() OVER (
                   ORDER BY CAST(l_quantity AS BIGINT),
                            l_orderkey, l_linenumber
               ) AS rk,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM lineitem
    )
    SELECT (rk - 1) * {HISTOGRAM_BUCKETS} // n AS bucket_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(v) AS lo,
           MAX(v) AS hi,
           CAST(SUM(v) AS BIGINT) AS sum_v
    FROM r
    GROUP BY (rk - 1) * {HISTOGRAM_BUCKETS} // n
    ORDER BY bucket_id
    """


@query(
    "histogram_equi_depth",
    oracle=HISTOGRAM_EQUI_DEPTH_ORACLE,
    tier="local",
)
def histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equal-frequency (equi-depth) histogram of lineitem
    quantity in HISTOGRAM_BUCKETS (10) buckets — the statistic
    optimizers and data-quality monitors keep per column. Equi-depth
    under HEAVY VALUE DUPLICATION (50 distinct quantities across the
    whole fact) is exactly where a naive per-value histogram fails:
    bucket boundaries must land INSIDE repeated-value runs, which
    requires a global rank, not value counts alone.

    The global rank is the same distributed decomposition
    ``text_length_trim`` established (its docstring carries the full
    argument): rank = (#rows with smaller value) + row_number within
    the value group, under the total order (v, l_orderkey,
    l_linenumber). The below/total table is the tiny per-value count
    aggregate (<= 50 rows — its cumulative window is single-partition
    over 50 rows, then broadcast back); the within-value row_number
    window partitions BY value, and only (v, orderkey, linenumber)
    longs ride that exchange. bucket = (rank-1)*k DIV n is exact
    integer arithmetic, so bucket populations differ by at most one
    row and the DuckDB twin (a literal global ROW_NUMBER — the
    single-node formulation) is hash-exact.

    At 100 TB the one structural caveat is distinct-value cardinality:
    this plan wants #distinct values << #rows (true for quantities,
    ratings, categorical codes). For near-unique value domains the
    per-value table degenerates toward corpus size — the production
    path there is pre-bucketing values into ~1e6 quantized cells first
    (same plan, cells as values), trading exactness of boundaries
    INSIDE a cell for a bounded below-table."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("v"),
        F.col("l_orderkey").alias("k1"),
        F.col("l_linenumber").alias("k2"),
    )
    return equi_depth_frame(li)


def equi_depth_frame(
    li: DataFrame, buckets: int = HISTOGRAM_BUCKETS
) -> DataFrame:
    """Core of histogram_equi_depth over any (v: long, k1, k2) frame
    with (v, k1, k2) a total order — split out so planted-duplication
    tests can drive the rank decomposition and the equal-population
    law directly."""
    counts = li.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    w_below = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bounds = counts.select(
        "v",
        F.coalesce(F.sum("cnt").over(w_below), F.lit(0)).alias("below"),
        F.sum("cnt").over(Window.partitionBy()).alias("n_total"),
    )
    w_within = Window.partitionBy("v").orderBy("k1", "k2")
    ranked = (
        li.withColumn("rw", F.row_number().over(w_within))
        .join(F.broadcast(bounds), "v")
        .select(
            "v",
            F.expr(
                f"(below + rw - 1) * {buckets} DIV n_total"
            ).alias("bucket_id"),
        )
    )
    return (
        ranked.groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.sum("v").cast("long").alias("sum_v"),
        )
        .orderBy("bucket_id")
    )


# ---------------------------------------------------------------------------
# agg_mad_robust: exact per-group median + median-absolute-deviation via
# the value-histogram rank decomposition.
# ---------------------------------------------------------------------------

AGG_MAD_ROBUST_ORACLE = """
    WITH c AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM events
    ),
    counts AS (
        SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM c GROUP BY event_type, c
    ),
    cum AS (
        SELECT event_type, c, cnt,
               CAST(COALESCE(SUM(cnt) OVER (
                   PARTITION BY event_type ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS below,
               CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM counts
    ),
    med AS (
        SELECT event_type, n, c AS median_cents
        FROM cum
        WHERE below < (n + 1) // 2 AND (n + 1) // 2 <= below + cnt
    ),
    devs AS (
        SELECT counts.event_type,
               ABS(counts.c - med.median_cents) AS d,
               CAST(SUM(cnt) AS BIGINT) AS cnt
        FROM counts JOIN med USING (event_type)
        GROUP BY counts.event_type, ABS(counts.c - med.median_cents)
    ),
    dcum AS (
        SELECT event_type, d, cnt,
               CAST(COALESCE(SUM(cnt) OVER (
                   PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS below,
               CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM devs
    )
    SELECT m.event_type, m.n, m.median_cents,
           dc.d AS mad_cents
    FROM dcum dc JOIN med m USING (event_type)
    WHERE dc.below < (dc.n + 1) // 2 AND (dc.n + 1) // 2 <= dc.below + dc.cnt
    ORDER BY m.event_type
    """


def _lower_median(counts: DataFrame, val: str) -> DataFrame:
    """(event_type, val, cnt) histogram -> the group's LOWER median of
    the expanded multiset: the value whose cumulative count range
    contains rank (n+1) DIV 2 under val-ascending order. Lower (not
    interpolated) median keeps every output an exact integer, so both
    engines agree bit-for-bit at any group parity."""
    w_below = Window.partitionBy("event_type").orderBy(val).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy("event_type")
    cum = counts.select(
        "event_type",
        val,
        "cnt",
        F.coalesce(F.sum("cnt").over(w_below), F.lit(0))
        .cast("long").alias("below"),
        F.sum("cnt").over(w_all).cast("long").alias("n"),
    )
    target = F.expr("(n + 1) DIV 2")
    return cum.filter(
        (F.col("below") < target) & (target <= F.col("below") + F.col("cnt"))
    )


@query("agg_mad_robust", oracle=AGG_MAD_ROBUST_ORACLE, tier="local")
def agg_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group dispersion: exact LOWER median and exact median
    absolute deviation (MAD) of the event value in cents, per
    event_type — the outlier-resistant (location, scale) pair quality
    monitors prefer over mean/stddev on heavy-tailed money columns.

    Exactness: values become integer cents (money.py idiom); both
    medians use the lower-median convention (rank (n+1) DIV 2), so
    every output is an exact BIGINT and the DuckDB twin — written with
    the SAME explicit rank arithmetic rather than its interpolating
    median() — is hash-exact.

    Scale shape (the text_length_trim / histogram_equi_depth rank
    decomposition, applied twice): the only full-data pass is the
    map-side-combinable (type, cents) histogram aggregate; the
    cumulative windows ride that histogram (<= |types| x |distinct
    cents| rows — the 2dp money domain is bounded), the median row is
    selected by rank arithmetic without expanding the multiset, and
    the second pass re-aggregates the SAME histogram under the
    |c - median| transform (broadcast median join), never re-reading
    events. No per-row window, no global sort, no second fact scan."""
    ev = load_events(spark, sf_dir).select(
        "event_type", cents("value").alias("c")
    )
    return mad_frame(ev)


def mad_frame(ev: DataFrame) -> DataFrame:
    """Core of agg_mad_robust over any (event_type, c: long) frame —
    split out so planted even/odd-parity and duplicate-heavy tests can
    pin the rank arithmetic against statistics.median conventions."""
    counts = ev.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    med = _lower_median(counts, "c").select(
        "event_type", "n", F.col("c").alias("median_cents")
    )
    devs = (
        counts.join(
            F.broadcast(med.select("event_type", "median_cents")),
            "event_type",
        )
        .groupBy(
            "event_type",
            F.abs(F.col("c") - F.col("median_cents")).alias("d"),
        )
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    mad = _lower_median(devs, "d").select(
        "event_type", F.col("d").alias("mad_cents")
    )
    return (
        med.join(F.broadcast(mad), "event_type")
        .select("event_type", "n", "median_cents", "mad_cents")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# ts_percentile_bands: exact daily P50/P95/max bands per event type via
# the histogram rank decomposition.
# ---------------------------------------------------------------------------

TS_PERCENTILE_BANDS_ORACLE = """
    WITH c AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM events
    ),
    counts AS (
        SELECT event_type, day, c, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM c GROUP BY event_type, day, c
    ),
    cum AS (
        SELECT event_type, day, c, cnt,
               CAST(COALESCE(SUM(cnt) OVER (
                   PARTITION BY event_type, day ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS below,
               CAST(SUM(cnt) OVER (PARTITION BY event_type, day)
                    AS BIGINT) AS n
        FROM counts
    ),
    p50 AS (
        SELECT event_type, day, n, c AS p50_cents FROM cum
        WHERE below < (50 * n + 99) // 100
          AND (50 * n + 99) // 100 <= below + cnt
    ),
    p95 AS (
        SELECT event_type, day, c AS p95_cents FROM cum
        WHERE below < (95 * n + 99) // 100
          AND (95 * n + 99) // 100 <= below + cnt
    ),
    mx AS (
        SELECT event_type, day, CAST(MAX(c) AS BIGINT) AS max_cents
        FROM counts GROUP BY event_type, day
    )
    SELECT p50.event_type, p50.day, p50.n,
           p50.p50_cents, p95.p95_cents, mx.max_cents
    FROM p50
    JOIN p95 USING (event_type, day)
    JOIN mx USING (event_type, day)
    ORDER BY event_type, day
    """


@query("ts_percentile_bands", oracle=TS_PERCENTILE_BANDS_ORACLE, tier="local")
def ts_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily percentile dashboard: exact P50 / P95 / max of the
    event value per (event_type, day) — the latency/price band series
    every monitoring stack draws, computed with EXACT nearest-rank
    percentiles (rank ⌈q·n/100⌉ = (q·n + 99) DIV 100 — agrees with
    agg_mad_robust's lower median at q=50) so the DuckDB twin is
    hash-exact at any group parity, where interpolating
    percentile_approx/quantile calls would differ engine-to-engine.

    Scale shape (the rank decomposition a third time, now per
    (type, day) group): the only full-data pass is the map-side
    (type, day, cents) histogram aggregate; the cumulative windows and
    both rank selections ride the histogram (≤ groups × distinct
    cents rows); the band assembly joins are group-grain. Selecting
    TWO quantiles re-filters the SAME cumulative table — each extra
    band is one more filter, never another corpus pass."""
    ev = load_events(spark, sf_dir).select(
        "event_type",
        F.to_date("ts").alias("day"),
        cents("value").alias("c"),
    )
    return percentile_bands_frame(ev)


def percentile_bands_frame(ev: DataFrame) -> DataFrame:
    """Core of ts_percentile_bands over any (event_type, day, c: long)
    frame — split out so planted parity/duplicate tests can pin the
    nearest-rank arithmetic directly."""
    counts = ev.groupBy("event_type", "day", "c").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w_below = Window.partitionBy("event_type", "day").orderBy("c").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy("event_type", "day")
    cum = counts.select(
        "event_type",
        "day",
        "c",
        "cnt",
        F.coalesce(F.sum("cnt").over(w_below), F.lit(0))
        .cast("long").alias("below"),
        F.sum("cnt").over(w_all).cast("long").alias("n"),
    )

    def band(q: int, name: str) -> DataFrame:
        target = F.expr(f"({q} * n + 99) DIV 100")
        return cum.filter(
            (F.col("below") < target)
            & (target <= F.col("below") + F.col("cnt"))
        ).select("event_type", "day", "n", F.col("c").alias(name))

    p50 = band(50, "p50_cents")
    p95 = band(95, "p95_cents").drop("n")
    mx = counts.groupBy("event_type", "day").agg(
        F.max("c").cast("long").alias("max_cents")
    )
    return (
        p50.join(p95, ["event_type", "day"])
        .join(mx, ["event_type", "day"])
        .select(
            "event_type", "day", "n", "p50_cents", "p95_cents", "max_cents"
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# dq_expectations_suite: declarative data-quality checks (dbt-test /
# Great-Expectations analog).
# ---------------------------------------------------------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

DQ_EXPECTATIONS_SUITE_ORACLE = f"""
    WITH checks AS (
        SELECT 'fk_orders_custkey' AS check_name, 'orders' AS tbl,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
                LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
                ON o.o_custkey = c.c_custkey
                WHERE c.c_custkey IS NULL) AS violations,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS checked
        UNION ALL
        SELECT 'pk_orders_orderkey', 'orders',
               (SELECT CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
                FROM orders),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders)
        UNION ALL
        SELECT 'range_orders_totalprice_positive', 'orders',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                WHERE o_totalprice <= 0),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders)
        UNION ALL
        SELECT 'fk_lineitem_orderkey', 'lineitem',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
                LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
                ON l.l_orderkey = o.o_orderkey
                WHERE o.o_orderkey IS NULL),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem)
        UNION ALL
        SELECT 'fk_lineitem_partkey', 'lineitem',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
                LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
                ON l.l_partkey = p.p_partkey
                WHERE p.p_partkey IS NULL),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem)
        UNION ALL
        SELECT 'range_lineitem_discount_unit_interval', 'lineitem',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
                WHERE l_discount < 0 OR l_discount > 1),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem)
        UNION ALL
        SELECT 'pk_customer_custkey', 'customer',
               (SELECT CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT)
                FROM customer),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM customer)
        UNION ALL
        SELECT 'not_null_events_user_id', 'events',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM events
                WHERE user_id IS NULL),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM events)
        UNION ALL
        SELECT 'accepted_values_event_type', 'events',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM events
                WHERE event_type IS NULL OR event_type NOT IN
                      {EVENT_TYPES!r}),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM events)
        UNION ALL
        SELECT 'nonempty_documents_text', 'documents',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
                WHERE text IS NULL OR LENGTH(text) = 0),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
    )
    SELECT check_name, tbl, violations, checked,
           violations = 0 AS passed
    FROM checks ORDER BY check_name
    """


def _check_rows(df, tbl: str, specs: list[tuple[str, object]], checked_col):
    """1-row aggregate -> one (check_name, tbl, violations, checked)
    row per spec, via an explode over the single aggregate row (no
    collect; the frame is 1 x len(specs))."""
    agg = df.agg(
        *[v.cast("long").alias(f"_v{i}") for i, (_, v) in enumerate(specs)],
        checked_col.cast("long").alias("_checked"),
    )
    entries = [
        F.struct(
            F.lit(name).alias("check_name"),
            F.lit(tbl).alias("tbl"),
            F.col(f"_v{i}").alias("violations"),
            F.col("_checked").alias("checked"),
        )
        for i, (name, _) in enumerate(specs)
    ]
    return agg.select(F.explode(F.array(*entries)).alias("e")).select("e.*")


@query(
    "dq_expectations_suite",
    oracle=DQ_EXPECTATIONS_SUITE_ORACLE,
    tier="local",
)
def dq_expectations_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations over the whole star — the
    dbt-test / Great-Expectations checklist a warehouse runs before
    promoting a drop: referential integrity (FK orphans), primary-key
    uniqueness, NOT NULL, accepted values, and numeric range contracts,
    one row per named check with exact violation counts and a boolean
    verdict. Mirrors the reference's verification probe surface
    (SURVEY.md S13, reference main.py's row-count checks) generalized
    to constraint classes.

    Scale shape: each table contributes ONE aggregation pass computing
    all its checks as conditional sums (map-side combinable); FK
    checks ride LEFT joins against the DISTINCT referenced key
    column only (a duplicated referenced key must not multiply the
    checking side's rows — pinned by the planted-violation test)
    (threshold/AQE picks broadcast at fixture SFs, shuffle at 100 TB —
    the q1 dim policy); the per-table 1-row aggregates explode into
    check rows and union. No stage carries more than (fact keys) on
    any exchange; output is fixed at the check count."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    docs = load_table(spark, sf_dir, "documents")
    ev = load_events(spark, sf_dir)

    one = F.count(F.lit(1))
    o = orders.join(
        customer.select(F.col("c_custkey").alias("_ck")).distinct(),
        orders["o_custkey"] == F.col("_ck"),
        "left",
    )
    orders_rows = _check_rows(
        o,
        "orders",
        [
            ("fk_orders_custkey", F.sum(F.col("_ck").isNull().cast("long"))),
            ("pk_orders_orderkey", one - F.countDistinct("o_orderkey")),
            (
                "range_orders_totalprice_positive",
                F.sum((F.col("o_totalprice") <= 0).cast("long")),
            ),
        ],
        one,
    )
    li = lineitem.join(
        orders.select(F.col("o_orderkey").alias("_ok")).distinct(),
        lineitem["l_orderkey"] == F.col("_ok"),
        "left",
    ).join(
        part.select(F.col("p_partkey").alias("_pk")).distinct(),
        lineitem["l_partkey"] == F.col("_pk"),
        "left",
    )
    lineitem_rows = _check_rows(
        li,
        "lineitem",
        [
            ("fk_lineitem_orderkey", F.sum(F.col("_ok").isNull().cast("long"))),
            ("fk_lineitem_partkey", F.sum(F.col("_pk").isNull().cast("long"))),
            (
                "range_lineitem_discount_unit_interval",
                F.sum(
                    ((F.col("l_discount") < 0) | (F.col("l_discount") > 1))
                    .cast("long")
                ),
            ),
        ],
        one,
    )
    customer_rows = _check_rows(
        customer,
        "customer",
        [("pk_customer_custkey", one - F.countDistinct("c_custkey"))],
        one,
    )
    events_rows = _check_rows(
        ev,
        "events",
        [
            (
                "not_null_events_user_id",
                F.sum(F.col("user_id").isNull().cast("long")),
            ),
            (
                "accepted_values_event_type",
                F.sum(
                    (
                        F.col("event_type").isNull()
                        | ~F.col("event_type").isin(*EVENT_TYPES)
                    ).cast("long")
                ),
            ),
        ],
        one,
    )
    docs_rows = _check_rows(
        docs,
        "documents",
        [
            (
                "nonempty_documents_text",
                F.sum(
                    (F.col("text").isNull() | (F.length("text") == 0))
                    .cast("long")
                ),
            )
        ],
        one,
    )
    return (
        orders_rows.unionByName(lineitem_rows)
        .unionByName(customer_rows)
        .unionByName(events_rows)
        .unionByName(docs_rows)
        .select(
            "check_name",
            "tbl",
            "violations",
            "checked",
            (F.col("violations") == 0).alias("passed"),
        )
        .orderBy("check_name")
    )


# ---------------------------------------------------------------------------
# agg_weighted_median: exact quantity-weighted median price per flag.
# ---------------------------------------------------------------------------

# $5 price blocks — the TPC-H extendedprice domain is fixed
# (~900..~105000 dollars), so the (flag x block) table stays O(20k)
# rows at ANY data volume.
WMEDIAN_BLOCK_CENTS = 500

AGG_WEIGHTED_MEDIAN_ORACLE = """
    WITH li AS (
        SELECT l_returnflag AS flag,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
               CAST(l_quantity AS BIGINT) AS qty,
               l_orderkey * 10 + l_linenumber AS tie
        FROM lineitem
    ),
    tot AS (
        SELECT flag, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(qty) AS BIGINT) AS total_qty
        FROM li GROUP BY flag
    ),
    cum AS (
        SELECT flag, cents,
               CAST(SUM(qty) OVER (PARTITION BY flag
                                   ORDER BY cents, tie
                                   ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cw
        FROM li
    )
    SELECT t.flag, t.n_rows, t.total_qty,
           (SELECT MIN(c.cents) FROM cum c
            WHERE c.flag = t.flag AND 2 * c.cw >= t.total_qty)
               AS weighted_median_cents
    FROM tot t
    ORDER BY t.flag
    """


@query("agg_weighted_median", oracle=AGG_WEIGHTED_MEDIAN_ORACLE, tier="local")
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QUANTITY-WEIGHTED median unit price per return flag — the
    robust 'typical traded price' statistic (each row votes with its
    quantity, so a 50-unit line moves the median 50x more than a
    1-unit line; the plain median of line prices ignores volume). The
    lower weighted median: the smallest price whose cumulative weight
    reaches half the total, min{{v : 2*cum(v) >= W}} — cum is
    monotone, so the answer is a MIN over a threshold filter on the
    running weight.

    Scale shape: the running weight comes from
    ``operators/rank.py grouped_prefix_sum`` — per-(flag, $5 price
    block) weight sums fold map-side, carries ride the tiny
    (flag x block) table, within-block windows partition by
    (flag, block); a bare SUM() OVER (PARTITION BY flag ORDER BY
    price) would funnel each flag's full line population (a third of
    the fact table) through one task. The threshold pick and the
    totals are group-sized aggregates. All-integer: exact cents,
    exact long quantities, no floats."""
    from ..operators.rank import grouped_prefix_sum

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        .alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("tie"),
    )
    tot = li.groupBy("flag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("qty").cast("long").alias("total_qty"),
    )
    cum = grouped_prefix_sum(
        li,
        ["flag"],
        F.col("cents"),
        "tie",
        F.col("qty"),
        block_width=WMEDIAN_BLOCK_CENTS,
        out_col="cw",
    )
    med = (
        cum.join(F.broadcast(tot.select("flag", "total_qty")), "flag")
        .filter(2 * F.col("cw") >= F.col("total_qty"))
        .groupBy("flag")
        .agg(F.min("cents").cast("long").alias("weighted_median_cents"))
    )
    return (
        tot.join(med, "flag")
        .select("flag", "n_rows", "total_qty", "weighted_median_cents")
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# privacy_k_anonymity: k-anonymity audit over quasi-identifiers.
# ---------------------------------------------------------------------------

KANON_K = 5  # the audit threshold: groups smaller than k are re-identifiable

PRIVACY_K_ANONYMITY_ORACLE = f"""
    WITH cells AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS cell_n
        FROM customer GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(cell_n) AS BIGINT) AS n_rows
        FROM cells
    )
    SELECT tot.n_cells, tot.n_rows,
           (SELECT CAST(MIN(cell_n) AS BIGINT) FROM cells) AS min_cell,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cells
            WHERE cell_n < {KANON_K}) AS risky_cells,
           (SELECT CAST(COALESCE(SUM(cell_n), 0) AS BIGINT) FROM cells
            WHERE cell_n < {KANON_K}) AS risky_rows,
           (SELECT CAST(COALESCE(SUM(cell_n), 0) AS BIGINT) FROM cells
            WHERE cell_n < {KANON_K}) * 1000000 // tot.n_rows
               AS risky_share_ppm
    FROM tot
    """


@query("privacy_k_anonymity", oracle=PRIVACY_K_ANONYMITY_ORACLE, tier="local")
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY audit (Sweeney 2002) over the customer table's
    quasi-identifier pair (nation, market segment): a row is
    re-identifiable when its quasi-identifier CELL holds fewer than
    KANON_K (5) rows, so the audit reports the cell count, the
    smallest cell, and how many cells/rows fall under k (exact-ppm
    share) — the release gate a training-data governance pass runs
    before publishing a derived table. (The PII-scrub operator,
    text_pii_scrub, handles direct identifiers; this is the
    LINKAGE-risk side: quasi-identifiers that join to external data.)

    Scale shape: one (nation x segment)-keyed count — map-side
    combinable, cell-grain output bounded by the quasi-identifier
    DOMAIN (25 x 5 here), then scalar rollups over that tiny cell
    table. Nothing but the cell table crosses any exchange at 100 TB.
    All-integer."""
    cells = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).cast("long").alias("cell_n"))
    )
    risky = F.col("cell_n") < KANON_K
    return cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("cell_n").cast("long").alias("n_rows"),
        F.min("cell_n").cast("long").alias("min_cell"),
        F.sum(risky.cast("long")).cast("long").alias("risky_cells"),
        F.sum(F.when(risky, F.col("cell_n")).otherwise(0)).cast("long")
        .alias("risky_rows"),
    ).select(
        "n_cells",
        "n_rows",
        "min_cell",
        "risky_cells",
        "risky_rows",
        F.expr("risky_rows * 1000000 DIV n_rows").cast("long")
        .alias("risky_share_ppm"),
    )


# ---------------------------------------------------------------------------
# mart_fulfillment_latency: order-to-ship latency SLA bands per
# priority.
# ---------------------------------------------------------------------------

MART_FULFILLMENT_LATENCY_ORACLE = """
    WITH lag AS (
        SELECT o_orderpriority AS priority,
               date_diff('day', o_orderdate, l_shipdate) AS lag
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    counts AS (
        SELECT priority, lag, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lag GROUP BY 1, 2
    ),
    cum AS (
        SELECT priority, lag, cnt,
               COALESCE(SUM(cnt) OVER (PARTITION BY priority ORDER BY lag
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS below,
               SUM(cnt) OVER (PARTITION BY priority) AS n
        FROM counts
    )
    SELECT priority,
           CAST(n AS BIGINT) AS n_lineitems,
           CAST(MIN(CASE WHEN below < (50 * n + 99) // 100
                          AND (50 * n + 99) // 100 <= below + cnt
                         THEN lag END) AS BIGINT) AS p50_lag_days,
           CAST(MIN(CASE WHEN below < (95 * n + 99) // 100
                          AND (95 * n + 99) // 100 <= below + cnt
                         THEN lag END) AS BIGINT) AS p95_lag_days,
           CAST(MAX(lag) AS BIGINT) AS max_lag_days
    FROM cum
    GROUP BY priority, n
    ORDER BY priority
    """


@query(
    "mart_fulfillment_latency",
    oracle=MART_FULFILLMENT_LATENCY_ORACLE,
    tier="local",
)
def mart_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship FULFILLMENT latency SLA bands per order priority:
    exact nearest-rank P50 / P95 / max of (shipdate - orderdate) in
    whole days — the ops dashboard that answers 'are URGENT orders
    actually shipping faster?'. Nearest-rank r = (q*n + 99) DIV 100
    (the ts_percentile_bands convention) so the DuckDB twin is
    hash-exact at any group parity; day lags are exact integer date
    subtraction on both engines.

    Scale shape (the rank decomposition over a DOMAIN-bounded value):
    the only full-data stage is the lineitem-orders key join plus the
    map-side (priority, lag) histogram — the lag domain is bounded by
    the CALENDAR span of the dataset (~2.5k distinct day-lags in the
    fixtures), so the cumulative windows and both rank picks ride a
    priorities x lag-domain table, never the fact table. Each extra quantile is one more filter over the same
    cumulative table, never another corpus pass."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff("l_shipdate", "o_orderdate").cast("long").alias("lag"),
        )
    )
    counts = lag.groupBy("priority", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w_below = (
        Window.partitionBy("priority")
        .orderBy("lag")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = counts.select(
        "priority",
        "lag",
        "cnt",
        F.coalesce(F.sum("cnt").over(w_below), F.lit(0)).cast("long")
        .alias("below"),
        F.sum("cnt").over(Window.partitionBy("priority")).cast("long")
        .alias("n"),
    )

    def pick(q: int) -> F.Column:
        r = f"({q} * n + 99) DIV 100"
        return F.min(
            F.when(
                F.expr(f"below < {r} AND {r} <= below + cnt"), F.col("lag")
            )
        ).cast("long")

    return (
        cum.groupBy("priority", "n")
        .agg(
            pick(50).alias("p50_lag_days"),
            pick(95).alias("p95_lag_days"),
            F.max("lag").cast("long").alias("max_lag_days"),
        )
        .select(
            "priority",
            F.col("n").alias("n_lineitems"),
            "p50_lag_days",
            "p95_lag_days",
            "max_lag_days",
        )
        .orderBy("priority")
    )

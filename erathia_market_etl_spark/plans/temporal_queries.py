"""Temporal-join queries over events: as-of join (clicks -> latest
prior purchase per user) and bounded range self-join (error bursts).
The DuckDB oracles use the engine-native formulations (ASOF JOIN, plain
range theta-join) — maximally independent implementations of the same
semantics."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.temporal import asof_join, bounded_range_self_join
from ..sources.events import load_events
from .registry import query

# purchases deduped to one row per (user, ts) keeping max event_id —
# ASOF tie-breaking is otherwise unspecified in both engines
_PURCHASES_CTE = """
    purchases AS (
        SELECT user_id, ts, event_id, value FROM (
            SELECT user_id, ts, event_id, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'purchase'
        ) WHERE rn = 1
    )
"""


def _dedup_purchases(events: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    return (
        events.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "event_id", "value")
    )


@query(
    "asof_click_to_purchase",
    oracle=f"""
    WITH {_PURCHASES_CTE}
    SELECT c.event_id, c.user_id, c.ts,
           p.ts AS ts_matched,
           p.event_id AS event_id_matched,
           p.value AS value_matched
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    ORDER BY c.event_id
    """,
)
def asof_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every click gets the user's most recent purchase at
    or before it (left outer). Spark side: tagged union + one sort-based
    window — one shuffle on user_id, no range probing. Oracle: DuckDB's
    native ASOF LEFT JOIN."""
    events = load_events(spark, sf_dir)
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = _dedup_purchases(events)
    return asof_join(
        clicks, purchases, on="user_id", ts="ts", right_cols=["event_id", "value"]
    ).orderBy("event_id")


@query(
    "range_join_error_bursts",
    oracle="""
    WITH err AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'
    )
    SELECT a.user_id,
           a.event_id AS a_event_id,
           b.event_id AS b_event_id,
           CAST(date_sub('second', a.ts, b.ts) AS BIGINT) AS gap_seconds
    FROM err a JOIN err b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 10 MINUTE
    ORDER BY a.user_id, a_event_id, b_event_id
    """,
)
def range_join_error_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range self-join: pairs of error events from the same user
    within 10 minutes (burst detection). Spark side prunes via 10-minute
    time-bucket equi-join (each left row meets only its own and the next
    bucket); the oracle is DuckDB's range theta-join (IEJoin)."""
    events = load_events(spark, sf_dir)
    errs = events.filter(F.col("event_type") == "error")
    pairs = bounded_range_self_join(
        errs, key="user_id", ts="ts", max_gap_seconds=600, select_cols=["event_id"]
    )
    return pairs.select(
        "user_id",
        F.col("a_event_id"),
        F.col("b_event_id"),
        (F.col("b_ts").cast("timestamp").cast("double")
         - F.col("a_ts").cast("timestamp").cast("double"))
        .cast("bigint").alias("gap_seconds"),
    ).orderBy("user_id", "a_event_id", "b_event_id")


# ---------------------------------------------------------------------------
# funnel_ordered_conversion: strictly-ordered multi-stage funnel.
# ---------------------------------------------------------------------------

FUNNEL_STAGES = ("view", "click", "purchase")
FUNNEL_WINDOW_SECONDS = 7 * 86400  # per-step conversion window

FUNNEL_ORDERED_CONVERSION_ORACLE = f"""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
          AND e.ts <= s1.t1 + INTERVAL {FUNNEL_WINDOW_SECONDS} SECOND
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
          AND e.ts <= s2.t2 + INTERVAL {FUNNEL_WINDOW_SECONDS} SECOND
        GROUP BY e.user_id
    ),
    per_user AS (
        SELECT s1.user_id, t1, t2, t3
        FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
                LEFT JOIN s3 ON s2.user_id = s3.user_id
    )
    SELECT stage, users, seconds_to_here FROM (
        SELECT 1 AS ord, 'view' AS stage,
               CAST(COUNT(*) AS BIGINT) AS users,
               CAST(0 AS BIGINT) AS seconds_to_here
        FROM per_user
        UNION ALL
        -- floor each timestamp to whole epoch seconds BEFORE the
        -- per-row subtraction, exactly like Spark's unix_timestamp():
        -- fixture timestamps carry sub-second parts, so DuckDB's
        -- fractional epoch() under CAST (round-half-even) genuinely
        -- diverges per row; parity previously survived only because
        -- the final integer division landed on the same quotient
        -- (r9 ADVICE, medium)
        SELECT 2, 'click', CAST(COUNT(t2) AS BIGINT),
               COALESCE(CAST(SUM(epoch_us(t2) // 1000000
                                 - epoch_us(t1) // 1000000)
                             AS BIGINT) // NULLIF(COUNT(t2), 0), 0)
        FROM per_user
        UNION ALL
        SELECT 3, 'purchase', CAST(COUNT(t3) AS BIGINT),
               COALESCE(CAST(SUM(epoch_us(t3) // 1000000
                                 - epoch_us(t1) // 1000000)
                             AS BIGINT) // NULLIF(COUNT(t3), 0), 0)
        FROM per_user
    ) ORDER BY ord
    """


@query("funnel_ordered_conversion", oracle=FUNNEL_ORDERED_CONVERSION_ORACLE)
def funnel_ordered_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel view -> click -> purchase:
    a user advances to stage k+1 only with an event of that type
    STRICTLY AFTER their stage-k attainment time AND within the
    FUNNEL_WINDOW_SECONDS (7-day) per-step conversion window
    (earliest-qualifying semantics — the product-analytics funnel
    definition, where a purchase logged before the first view does not
    convert and one logged months later does not either; the window is
    what makes drop-off non-vacuous on any sufficiently long event
    history). Output:
    one row per stage with users reached and the mean seconds from
    funnel entry, as a truncating integer division so the contract is
    hash-exact. Per-row seconds are whole-second differences of
    FLOORED timestamps — Spark's unix_timestamp() floors each
    timestamp, and the oracle mirrors it with epoch_us // 1_000_000
    per side (fixture timestamps carry sub-second parts, so flooring
    the difference instead would diverge; r9 ADVICE).

    Plan: each stage is one type-filtered aggregate on user_id joined
    against the previous stage's attainment table — the join key and
    the aggregation key are BOTH user_id, so after the first exchange
    every stage reuses the same hash partitioning (no re-shuffle; the
    stage tables are strict row-subsets of each other). The final
    3-row presentation is a unionAll of scalar aggregates. At 100 TB:
    k stages = one events scan per stage (or one scan + pivot if the
    type column is low-cardinality enough to pre-aggregate, the
    documented alternative), all exchanges user-keyed and shrinking
    monotonically down the funnel."""
    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    win = F.expr(f"INTERVAL {FUNNEL_WINDOW_SECONDS} SECOND")
    s2 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[1])
        .join(s1, "user_id")
        .filter(
            (F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + win)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[2])
        .join(s2, "user_id")
        .filter(
            (F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + win)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    per_user = (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .localCheckpoint()  # three scalar consumers below
    )
    zero = F.lit(0).cast("long")

    def _row(ord_: int, stage: str, t_col: str) -> DataFrame:
        if t_col == "t1":
            return per_user.agg(
                F.count(F.lit(1)).cast("long").alias("users")
            ).select(
                F.lit(ord_).alias("ord"),
                F.lit(stage).alias("stage"),
                "users",
                zero.alias("seconds_to_here"),
            )
        return per_user.agg(
            F.count(t_col).cast("long").alias("users"),
            F.coalesce(
                F.expr(
                    f"CAST(sum(unix_timestamp({t_col}) - unix_timestamp(t1))"
                    f" AS BIGINT) DIV nullif(count({t_col}), 0)"
                ),
                zero,
            ).alias("seconds_to_here"),
        ).select(
            F.lit(ord_).alias("ord"), F.lit(stage).alias("stage"),
            "users", "seconds_to_here",
        )

    out = (
        _row(1, "view", "t1")
        .unionAll(_row(2, "click", "t2"))
        .unionAll(_row(3, "purchase", "t3"))
    )
    return out.orderBy("ord").select("stage", "users", "seconds_to_here")


# ---------------------------------------------------------------------------
# funnel_time_to_convert: the conversion-latency SLA report — as-of
# matched purchase←click latencies rolled into exact daily percentile
# bands.
# ---------------------------------------------------------------------------

FUNNEL_TIME_TO_CONVERT_ORACLE = """
    WITH clicks AS (
        SELECT user_id, ts, event_id FROM (
            SELECT user_id, ts, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'click'
        ) WHERE rn = 1
    ),
    conv AS (
        SELECT CAST(p.ts AS DATE) AS day,
               (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS lat_sec
        FROM (SELECT user_id, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF JOIN clicks c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    ),
    counts AS (
        SELECT day, lat_sec, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM conv GROUP BY day, lat_sec
    ),
    cum AS (
        SELECT day, lat_sec, cnt,
               CAST(COALESCE(SUM(cnt) OVER (
                   PARTITION BY day ORDER BY lat_sec
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS below,
               CAST(SUM(cnt) OVER (PARTITION BY day) AS BIGINT) AS n
        FROM counts
    ),
    p50 AS (
        SELECT day, n, lat_sec AS p50_sec FROM cum
        WHERE below < (50 * n + 99) // 100
          AND (50 * n + 99) // 100 <= below + cnt
    ),
    p95 AS (
        SELECT day, lat_sec AS p95_sec FROM cum
        WHERE below < (95 * n + 99) // 100
          AND (95 * n + 99) // 100 <= below + cnt
    ),
    mx AS (
        SELECT day, CAST(MAX(lat_sec) AS BIGINT) AS max_sec
        FROM counts GROUP BY day
    )
    SELECT p50.day, CAST(p50.n AS BIGINT) AS n_conversions,
           CAST(p50.p50_sec AS BIGINT) AS p50_sec,
           CAST(p95.p95_sec AS BIGINT) AS p95_sec,
           mx.max_sec
    FROM p50 JOIN p95 USING (day) JOIN mx USING (day)
    ORDER BY day
    """


@query(
    "funnel_time_to_convert",
    oracle=FUNNEL_TIME_TO_CONVERT_ORACLE,
    tier="local",
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TO-CONVERT SLA bands: every purchase is as-of matched to
    the user's most recent click at or before it (the reverse
    direction of asof_click_to_purchase — here the PURCHASE is the
    probe, because the report is about realized conversions), the
    latency is truncated to whole seconds (the duplication that makes
    the per-day value histogram bounded), and each day gets EXACT
    nearest-rank P50/P95/max latency — the funnel counterpart of
    ts_percentile_bands' price bands, and the latency report a
    marketing/SLA dashboard actually draws. Composition: asof_join
    (tagged-union window, one user_id shuffle) feeding the
    percentile_bands_frame rank decomposition (one histogram pass,
    both quantiles re-filter the same cumulative table).

    Unmatched purchases (no prior click) are EXCLUDED — latency is
    undefined, and both engines drop them identically (inner ASOF)."""
    from ..plans.profile_queries import percentile_bands_frame

    events = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "event_id")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    matched = asof_join(
        purchases, clicks, on="user_id", ts="ts", right_cols=["event_id"]
    ).filter(F.col("ts_matched").isNotNull())
    conv = matched.select(
        F.lit("conv").alias("event_type"),
        F.to_date("ts").alias("day"),
        (F.unix_micros("ts") - F.unix_micros("ts_matched"))
        .cast("long").alias("us"),
    ).select(
        "event_type", "day", F.expr("us DIV 1000000").alias("c")
    )
    bands = percentile_bands_frame(conv)
    return bands.select(
        "day",
        F.col("n").alias("n_conversions"),
        F.col("p50_cents").alias("p50_sec"),
        F.col("p95_cents").alias("p95_sec"),
        F.col("max_cents").alias("max_sec"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# asof_nearest_purchase: bidirectional nearest-event join.
# ---------------------------------------------------------------------------

NEAREST_GAP_SECONDS = 7 * 86400

ASOF_NEAREST_PURCHASE_ORACLE = f"""
    WITH {_PURCHASES_CTE},
    c AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    cand AS (
        SELECT c.event_id, p.event_id AS m_id, p.ts AS m_ts,
               p.value AS m_value,
               CAST(epoch_us(p.ts) // 1000000
                    - epoch_us(c.ts) // 1000000 AS BIGINT) AS dt
        FROM c JOIN purchases p ON c.user_id = p.user_id
         AND p.ts >= c.ts - INTERVAL {NEAREST_GAP_SECONDS + 1} SECOND
         AND p.ts <= c.ts + INTERVAL {NEAREST_GAP_SECONDS + 1} SECOND
    ),
    best AS (
        SELECT event_id, m_id, m_ts, m_value, dt FROM (
            SELECT cand.*,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_id
                       ORDER BY ABS(dt), dt,
                                CASE WHEN dt <= 0 THEN -epoch_us(m_ts)
                                     ELSE epoch_us(m_ts) END
                   ) AS rn
            FROM cand WHERE ABS(dt) <= {NEAREST_GAP_SECONDS}
        ) WHERE rn = 1
    )
    SELECT c.event_id, c.user_id, c.ts,
           best.m_ts AS ts_matched,
           best.m_id AS event_id_matched,
           best.m_value AS value_matched,
           best.dt AS dt_seconds
    FROM c LEFT JOIN best ON c.event_id = best.event_id
    ORDER BY c.event_id
    """


@query(
    "asof_nearest_purchase",
    oracle=ASOF_NEAREST_PURCHASE_ORACLE,
    tier="local",
)
def asof_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional as-of: every click gets the user's NEAREST
    purchase within a ±7-day bound — backward or forward by floored
    whole-second gap, ties to the earlier side (left outer; dt_seconds
    signed, <= 0 backward). The attribution shape behind refund
    matching, promo-effect windows, and 'purchase influenced by this
    click?' joins, where plain backward as-of misses the
    purchase-then-click ordering half.

    Spark side: ``nearest_event_join`` — tagged union, ONE user_id
    shuffle, two window passes over the same sort (backward last /
    forward first), never a range-candidate expansion. The oracle
    ranks ALL bounded candidates by (|dt|, dt, raw-ts direction) —
    equality with the two-candidate window formulation is the flooring
    monotonicity argument in the operator docstring, and the fixture's
    sub-second timestamps make the floored-gap ties genuinely occur
    (both engines resolve them identically by construction)."""
    events = load_events(spark, sf_dir)
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = _dedup_purchases(events)
    from ..operators.temporal import nearest_event_join

    return nearest_event_join(
        clicks,
        purchases,
        on="user_id",
        ts="ts",
        right_cols=["event_id", "value"],
        max_gap_seconds=NEAREST_GAP_SECONDS,
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# mart_session_error_exposure: interval union-merge + overlap-duration
# join.
# ---------------------------------------------------------------------------

ERROR_HALO_SECONDS = 300  # each error taints ±5 minutes of its session

MART_SESSION_ERROR_EXPOSURE_ORACLE = f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    ),
    sess AS (
        SELECT user_id,
               epoch_us(MIN(ts)) AS ss,
               epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS se,
               CAST(MIN(ts) AS DATE) AS day
        FROM numbered GROUP BY user_id, session_id
    ),
    halo AS (
        SELECT user_id,
               epoch_us(ts - INTERVAL {ERROR_HALO_SECONDS} SECOND) AS hs,
               epoch_us(ts + INTERVAL {ERROR_HALO_SECONDS} SECOND) AS he
        FROM events WHERE event_type = 'error'
    ),
    runs AS (
        SELECT user_id, hs, he,
               MAX(he) OVER (PARTITION BY user_id ORDER BY hs, he
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS prev_max
        FROM halo
    ),
    islands AS (
        SELECT user_id, hs, he,
               SUM(CASE WHEN prev_max IS NULL OR hs > prev_max
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY hs, he
                         ROWS UNBOUNDED PRECEDING) AS island
        FROM runs
    ),
    merged AS (
        SELECT user_id, MIN(hs) AS ws, MAX(he) AS we
        FROM islands GROUP BY user_id, island
    ),
    exposure AS (
        SELECT s.user_id, s.day, s.ss,
               CAST(SUM(GREATEST(0, LEAST(s.se, m.we)
                                    - GREATEST(s.ss, m.ws)))
                    AS BIGINT) AS micro
        FROM sess s JOIN merged m
          ON s.user_id = m.user_id
         AND m.ws < s.se AND m.we > s.ss
        GROUP BY s.user_id, s.day, s.ss
    )
    SELECT s.day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(e.micro) AS BIGINT) AS sessions_exposed,
           CAST(COALESCE(SUM(e.micro), 0) // 1000000 AS BIGINT)
               AS exposure_seconds
    FROM sess s
    LEFT JOIN exposure e
      ON s.user_id = e.user_id AND s.ss = e.ss
    GROUP BY s.day ORDER BY s.day
    """


@query(
    "mart_session_error_exposure",
    oracle=MART_SESSION_ERROR_EXPOSURE_ORACLE,
    tier="local",
)
def mart_session_error_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much session time ran INSIDE an error halo — per day, the
    sessions that overlapped any ±{300}s window around the same user's
    error events, and the total overlapped seconds. Two classic
    interval operators composed: INTERVAL UNION-MERGE (overlapping
    halos coalesce via the running-max-of-ends island trick, so a
    burst of errors never double-counts its overlap) and the
    OVERLAP-DURATION join (sum of LEAST(ends)−GREATEST(starts) over
    the disjoint merged windows — exact integer microseconds, floored
    to seconds once at the end).

    Scale shape: sessions come from the same F.session_window
    aggregate as session_window_stats; halos and the merge windows are
    user-partitioned (per-key rows bounded by user activity — the
    window_lag_lead precedent); the overlap join is user-keyed with
    the non-equi bounds as a post-join filter, so both sides share ONE
    user exchange and the pair count per user is sessions x merged
    windows (both small per user). The day rollup is calendar-sized.
    No floats anywhere until nothing is left to round."""
    from pyspark.sql import Window

    events = load_events(spark, sf_dir)
    sess = (
        events.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("ss"),
            F.unix_micros(F.col("w.end")).alias("se"),
            F.col("w.start").cast("date").alias("day"),
        )
    )
    halo = events.filter(F.col("event_type") == "error").select(
        "user_id",
        (F.unix_micros(F.col("ts")) - ERROR_HALO_SECONDS * 1_000_000)
        .alias("hs"),
        (F.unix_micros(F.col("ts")) + ERROR_HALO_SECONDS * 1_000_000)
        .alias("he"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("hs", "he")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("hs", "he")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = halo.withColumn(
        "island",
        F.sum(
            F.when(
                F.max("he").over(w_prev).isNull()
                | (F.col("hs") > F.max("he").over(w_prev)),
                1,
            ).otherwise(0)
        ).over(w_run),
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("hs").alias("ws"), F.max("he").alias("we")
    )
    exposure = (
        sess.join(merged, "user_id")
        .filter((F.col("ws") < F.col("se")) & (F.col("we") > F.col("ss")))
        .groupBy("user_id", "day", "ss")
        .agg(
            F.sum(
                F.greatest(
                    F.lit(0),
                    F.least("se", "we") - F.greatest("ss", "ws"),
                )
            ).cast("long").alias("micro")
        )
    )
    return (
        sess.join(exposure, ["user_id", "day", "ss"], "left")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.count("micro").cast("long").alias("sessions_exposed"),
            F.expr("CAST(COALESCE(SUM(micro), 0) DIV 1000000 AS BIGINT)")
            .alias("exposure_seconds"),
        )
        .orderBy("day")
    )

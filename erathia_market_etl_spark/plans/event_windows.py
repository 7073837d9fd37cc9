"""Window-function and time-window operators over the events table.

The reference has NO window functions and NO streaming (SURVEY.md §2.5,
§2.9) — this module supplies the batch surface the target engine must
expose: ranking/lag/frames (``Window.partitionBy``), plus tumbling /
sliding / session time windows (``F.window`` / ``F.session_window``),
which are also the exact shapes Structured Streaming executes with a
watermark (see ``streaming/``).

Determinism notes:
  * every ORDER BY inside a window carries an ``event_id`` tiebreak;
  * windowed SUM/AVG over doubles uses the DECIMAL(38,12) pattern —
    DuckDB evaluates running frames with segment trees, Spark
    sequentially, so double accumulation order differs (money.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import DEC, _unscale_round2, cents, money_sum_cents
from ..sources.events import load_events
from .registry import query


@query(
    "window_rank_user_events",
    oracle="""
    SELECT user_id, event_id,
           ROW_NUMBER()  OVER w AS rn,
           RANK()        OVER w AS rnk,
           DENSE_RANK()  OVER (PARTITION BY user_id ORDER BY event_type) AS type_rank
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, rn
    """,
)
def window_rank_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family: row_number / rank / dense_rank."""
    events = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wt = Window.partitionBy("user_id").orderBy("event_type")
    return events.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(wt).alias("type_rank"),
    ).orderBy("user_id", "rn")


@query(
    "window_lag_lead",
    oracle="""
    SELECT user_id, event_id, value,
           LAG(value)  OVER w AS prev_value,
           LEAD(value) OVER w AS next_value,
           value - COALESCE(LAG(value) OVER w, 0) AS delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, event_id
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead + per-row derived delta (identical IEEE subtraction on
    both engines — no rounding needed)."""
    events = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagv = F.lag("value").over(w)
    return events.select(
        "user_id", "event_id", "value",
        lagv.alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.coalesce(lagv, F.lit(0.0))).alias("delta"),
    ).orderBy("user_id", "event_id")


@query(
    "window_running_total",
    oracle="""
    SELECT user_id, event_id,
           ROUND(SUM(CAST(value AS DECIMAL(38,12)))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)::DOUBLE
               AS running_value,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
    FROM events
    ORDER BY user_id, event_id
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative frame (UNBOUNDED PRECEDING..CURRENT ROW). Exact decimal
    accumulation — Spark evaluates running sums sequentially, DuckDB with
    a segment tree, so double order differs."""
    events = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "user_id", "event_id",
        (F.round(F.sum(cents("value")).over(w).cast("decimal(38,0)") / 100, 2)
         .cast("double").alias("running_value")),
        F.count(F.lit(1)).over(w).alias("running_n"),
    ).orderBy("user_id", "event_id")


@query(
    "window_distribution_family",
    oracle="""
    SELECT user_id, event_id,
           NTILE(4)       OVER w AS quartile,
           FLOOR(PERCENT_RANK() OVER w * 1000000 + 0.5) / 1000000 AS pct_rank,
           FLOOR(CUME_DIST()    OVER w * 1000000 + 0.5) / 1000000 AS cume,
           FIRST_VALUE(event_id) OVER w AS first_event,
           LAST_VALUE(event_id)  OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                                AND UNBOUNDED FOLLOWING) AS last_event,
           NTH_VALUE(event_id, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND UNBOUNDED FOLLOWING) AS second_event
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, event_id
    """,
)
def window_distribution_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution/navigation window family: ntile, percent_rank,
    cume_dist, first/last/nth value. last/nth use the full-partition
    frame (the default running frame would return the current row).
    Ratios round through the FLOOR trick — both engines divide the same
    integers, but repr differences at 6dp are possible otherwise."""
    events = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    r6 = lambda c: (F.floor(c * 1000000 + F.lit(0.5)) / 1000000).cast("double")  # noqa: E731
    return events.select(
        "user_id", "event_id",
        F.ntile(4).over(w).alias("quartile"),
        r6(F.percent_rank().over(w)).alias("pct_rank"),
        r6(F.cume_dist().over(w)).alias("cume"),
        F.first("event_id").over(w).alias("first_event"),
        F.last("event_id").over(wf).alias("last_event"),
        F.nth_value("event_id", 2).over(wf).alias("second_event"),
    ).orderBy("user_id", "event_id")


@query(
    "tumbling_hourly_stats",
    oracle="""
    SELECT DATE_TRUNC('hour', ts) AS window_start,
           DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(CAST(value AS DECIMAL(38,12))), 2)::DOUBLE AS total_value
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY window_start, event_type
    """,
)
def tumbling_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window (F.window, 1h) — the batch form of the
    Structured Streaming hourly aggregation (streaming/event_stream.py
    runs the identical groupBy under a watermark)."""
    events = load_events(spark, sf_dir)
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum_cents(cents("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n_events", "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "sliding_window_counts",
    oracle="""
    WITH assigned AS (
        SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS window_start, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE AS window_start, value
        FROM events
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           COUNT(*) AS n_events,
           ROUND(SUM(CAST(value AS DECIMAL(38,12))), 2)::DOUBLE AS total_value
    FROM assigned
    GROUP BY 1, 2
    ORDER BY window_start
    """,
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1h length, 30min slide): every event lands in two
    overlapping windows. Spark expands via F.window; the oracle expands
    explicitly with a 2-way UNION ALL."""
    events = load_events(spark, sf_dir)
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum_cents(cents("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events", "total_value",
        )
        .orderBy("window_start")
    )


@query(
    "session_window_stats",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts, value,
               SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(CAST(value AS DECIMAL(38,12))), 2)::DOUBLE AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30min inactivity gap) via F.session_window — the
    merge-on-gap semantics Structured Streaming uses for stateful session
    aggregation. Oracle reconstructs sessions with lag + running sum.
    Spark's session end = last event + gap; the oracle mirrors that."""
    events = load_events(spark, sf_dir)
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum_cents(cents("value")).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events", "total_value",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "sessionize_by_gap",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts,
               CAST(SUM(new_sess) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS BIGINT) AS session_seq
        FROM flagged
    )
    SELECT user_id, session_seq,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
    FROM numbered
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
)
def sessionize_by_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization as a window-function composition (the classic
    lag -> boundary flag -> running-sum pattern): a new session starts
    when the gap to the previous event exceeds 30 minutes; the running
    sum of boundary flags numbers sessions 1..k per user. Unlike
    F.session_window (session_window_stats), this yields stable ordinal
    session ids and exact durations, and the same two-window shape runs
    on any engine. Timestamps compare in exact integer microseconds
    (events are micro-aligned; Spark unix_micros == DuckDB epoch_us).

    At scale: both windows share one partitioning (user_id) — a single
    shuffle, then two sequential passes over each partition."""
    events = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    flagged = events.select(
        "user_id", "event_id", "ts",
        F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1)
        .otherwise(0).alias("new_sess"),
    )
    numbered = flagged.select(
        "user_id", "ts",
        F.sum("new_sess").over(w).alias("session_seq"),
    )
    return (
        numbered.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            .alias("duration_us"),
        )
        .orderBy("user_id", "session_seq")
    )


# ---------------------------------------------------------------------------
# rollup_multiresolution: hypertable-style continuous-aggregate rollup
# (minute -> hour -> day).
# ---------------------------------------------------------------------------

ROLLUP_MULTIRESOLUTION_ORACLE = """
    SELECT date_trunc('day', ts) AS day_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(CAST(value AS DECIMAL(38,12))), 2)::DOUBLE AS total_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY 1, 2
    ORDER BY day_start, event_type
    """


@query(
    "rollup_multiresolution",
    oracle=ROLLUP_MULTIRESOLUTION_ORACLE,
    tier="local",
)
def rollup_multiresolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup (the TimescaleDB continuous-aggregate /
    Druid rollup pattern): aggregate raw events to 1-minute grain, then
    re-aggregate minutes into hours and hours into days, returning the
    day grain. The oracle aggregates raw->day DIRECTLY, so the green row
    attests the property the whole pattern rests on: every measure is
    re-aggregable (COUNT sums, SUM sums, MIN/MAX compose) and the
    cents-integer sums make re-association exact — a float SUM would
    hash-diverge across the regrouping.

    At 100 TB this is the only sane shape for serving multiple time
    grains: the raw->minute pass is the single full-data shuffle
    (collapsing map-side — events arrive roughly time-contiguous, so
    partial aggs reduce ~60x before the exchange); minute->hour and
    hour->day shuffle only the already-reduced rollup rows (60x then
    24x smaller). Incremental refresh falls out: a late partition
    re-aggregates only its own minute rows upward."""
    events = load_events(spark, sf_dir)
    minute = (
        events
        .select(
            F.date_trunc("minute", "ts").alias("minute_start"),
            "event_type",
            cents("value").alias("v_cents"),
            F.col("value"),
        )
        .groupBy("minute_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_cents").alias("sum_cents"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )
    hour = (
        minute
        .groupBy(
            F.date_trunc("hour", "minute_start").alias("hour_start"),
            "event_type",
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_cents").alias("sum_cents"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )
    day = (
        hour
        .groupBy(
            F.date_trunc("day", "hour_start").alias("day_start"),
            "event_type",
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_cents").alias("sum_cents"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )
    return (
        day.select(
            "day_start",
            "event_type",
            "n_events",
            _unscale_round2(F.col("sum_cents"), 2).alias("total_value"),
            "min_value",
            "max_value",
        )
        .orderBy("day_start", "event_type")
    )


# ---------------------------------------------------------------------------
# timeseries_gap_fill: dense per-series time spine + last-observation-
# carried-forward.
# ---------------------------------------------------------------------------

TIMESERIES_GAP_FILL_ORACLE = """
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour_start,
               COUNT(*) AS n,
               SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS c
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT event_type, MIN(hour_start) AS mn, MAX(hour_start) AS mx
        FROM hourly GROUP BY 1
    ),
    spine AS (
        SELECT b.event_type,
               unnest(generate_series(b.mn, b.mx, INTERVAL 1 HOUR)) AS hour_start
        FROM bounds b
    )
    SELECT s.event_type,
           s.hour_start,
           COALESCE(h.n, 0) AS n_events,
           ROUND(CAST(LAST_VALUE(h.c IGNORE NULLS) OVER (
                          PARTITION BY s.event_type ORDER BY s.hour_start
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                      ) AS DECIMAL(38,0)) / 100, 2)::DOUBLE AS filled_value,
           h.n IS NULL AS is_gap
    FROM spine s LEFT JOIN hourly h
      ON s.event_type = h.event_type AND s.hour_start = h.hour_start
    ORDER BY s.event_type, s.hour_start
    """


@query("timeseries_gap_fill", oracle=TIMESERIES_GAP_FILL_ORACLE, tier="local")
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill + LOCF (the TimescaleDB time_bucket_gapfill / locf
    shape): build the dense hourly spine per series from that series'
    own [min, max] hour range, left-join the sparse hourly aggregates,
    and carry the last observed total forward into empty hours. The
    spine generation is DISTRIBUTED — one sequence()/explode per series
    row, never a driver-side loop or a global calendar cross-join — and
    the first spine hour always has data (the bounds come from the
    data), so LOCF never emits an unseeded NULL.

    At scale: the hourly pre-aggregation is the only full-data shuffle;
    the spine explode is narrow (bounds rows -> dense hours), the fill
    join keys on (series, hour) against already-reduced rollup rows,
    and the LOCF window shuffles one partition per series. Carried
    totals stay exact cents integers until the final presentation
    divide."""
    events = load_events(spark, sf_dir)
    hourly = (
        events
        .select(
            "event_type",
            F.date_trunc("hour", "ts").alias("hour_start"),
            cents("value").alias("v_cents"),
        )
        .groupBy("event_type", "hour_start")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v_cents").alias("c"))
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hour_start").alias("mn"), F.max("hour_start").alias("mx"))
        .select(
            "event_type",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour_start"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["event_type", "hour_start"], "left")
        .select(
            "event_type",
            "hour_start",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.last("c", ignorenulls=True).over(w).alias("filled_cents"),
            F.col("n").isNull().alias("is_gap"),
        )
        .select(
            "event_type",
            "hour_start",
            "n_events",
            _unscale_round2(F.col("filled_cents"), 2).alias("filled_value"),
            "is_gap",
        )
        .orderBy("event_type", "hour_start")
    )


# ---------------------------------------------------------------------------
# Incremental rollup refresh: the mergeable-state algebra behind
# rollup_multiresolution's "a late partition re-aggregates only its own
# rows upward" claim. Maintenance-side (no driver query slot — the same
# class as sinks); exactness pinned in tests/test_timeseries.py.
# ---------------------------------------------------------------------------


def day_rollup_state(events: DataFrame) -> DataFrame:
    """Mergeable day-grain rollup STATE: (day_start, event_type) ->
    (n_events, sum_cents, min_value, max_value). Every measure is a
    commutative monoid (long sums, min, max — sum_cents stays an exact
    scaled integer, NOT the rounded presentation total), so states
    computed over any partition of the event log merge associatively
    into the state of the union. This is the storage schema of an
    incrementally-maintained rollup; ``present_day_rollup`` renders it."""
    return (
        events
        .select(
            F.date_trunc("day", "ts").alias("day_start"),
            "event_type",
            cents("value").alias("v_cents"),
            F.col("value"),
        )
        .groupBy("day_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_cents").alias("sum_cents"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


def merge_rollup_states(*states: DataFrame) -> DataFrame:
    """Merge rollup states (union + one re-aggregation — the monoid
    fold). At 100 TB this is the incremental-refresh step: the state
    for a late/new ingest partition is day-local and tiny, and the
    merge shuffles only rollup rows (days x types), never raw events.
    unionByName so column order never silently misaligns measures."""
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return (
        out.groupBy("day_start", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_cents").alias("sum_cents"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )


def present_day_rollup(state: DataFrame) -> DataFrame:
    """Presentation of a day rollup state — identical output contract
    to ``rollup_multiresolution`` (which computes the same values
    through the minute/hour ladder; equality is pinned in
    tests/test_timeseries.py)."""
    return (
        state.select(
            "day_start",
            "event_type",
            "n_events",
            _unscale_round2(F.col("sum_cents"), 2).alias("total_value"),
            "min_value",
            "max_value",
        )
        .orderBy("day_start", "event_type")
    )


# ---------------------------------------------------------------------------
# timeseries_rolling_zscore: rolling-window anomaly flags over the
# hourly rollup.
# ---------------------------------------------------------------------------

ZSCORE_WINDOW = 24  # trailing hours (ROWS frame over observed hours)
ZSCORE_FLAG = 3.0   # |z| above this flags the hour

TIMESERIES_ROLLING_ZSCORE_ORACLE = f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour_start,
               SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS c
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, hour_start, c,
               COUNT(*) OVER w AS n,
               CAST(SUM(c) OVER w AS HUGEINT) AS s1,
               CAST(SUM(c * c) OVER w AS HUGEINT) AS s2
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY hour_start
                     ROWS BETWEEN {ZSCORE_WINDOW - 1} PRECEDING
                              AND CURRENT ROW)
    )
    SELECT event_type, hour_start,
           ROUND(CAST(c AS DECIMAL(38,0)) / 100, 2)::DOUBLE AS total_value,
           CASE WHEN n * s2 = s1 * s1 THEN NULL
                ELSE FLOOR((CAST(c AS HUGEINT) * n - s1)
                           / SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE))
                           * 1000000 + 0.5) / 1000000
           END AS zscore,
           CASE WHEN n * s2 = s1 * s1 THEN FALSE
                ELSE ABS((CAST(c AS HUGEINT) * n - s1)
                         / SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE)))
                     > {ZSCORE_FLAG}
           END AS is_anomaly
    FROM stats
    ORDER BY event_type, hour_start
    """


@query(
    "timeseries_rolling_zscore",
    oracle=TIMESERIES_ROLLING_ZSCORE_ORACLE,
    tier="local",
)
def timeseries_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags: hourly totals per series, trailing
    ZSCORE_WINDOW (24)-row window, flag hours more than ZSCORE_FLAG (3)
    window (population) standard deviations from the window mean. The monitoring
    primitive you bolt onto every rollup at scale (burst/outage
    detection on ingest volume, spend, error counts).

    Exactness: the window keeps INTEGER moments — n, s1 = Σc,
    s2 = Σc² over exact cents — so the mean/variance arithmetic is
    associative and partition-order-free; the POPULATION z-score is
    (c·n − s1) / sqrt(n·s2 − s1²) — one subtraction, one sqrt, one
    division over identical integers on both engines (IEEE sqrt and
    divide are correctly rounded, so the doubles are bit-identical),
    rounded via the FLOOR trick. A naive avg/stddev_samp window would
    hash-diverge: both engines accumulate running doubles in different
    orders. Constant windows (variance 0) yield NULL z and FALSE flag
    on both sides. s2 rides DECIMAL/HUGEINT: hourly cents up to ~3e9
    square past the long range — 128-bit sums keep the moments exact
    to ~1e19-dollar hours.

    At scale: one full-data shuffle into the hourly rollup (map-side
    collapsing), then one window pass per series partition — the same
    single-exchange shape as window_running_total, pinned there."""
    events = load_events(spark, sf_dir)
    hourly = (
        events
        .select(
            "event_type",
            F.date_trunc("hour", "ts").alias("hour_start"),
            cents("value").alias("v_cents"),
        )
        .groupBy("event_type", "hour_start")
        .agg(F.sum("v_cents").alias("c"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(-(ZSCORE_WINDOW - 1), Window.currentRow)
    )
    cdec = F.col("c").cast("decimal(19,0)")
    stats = hourly.select(
        "event_type", "hour_start", "c",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(cdec).over(w).cast("decimal(38,0)").alias("s1"),
        F.sum(cdec * cdec).over(w).cast("decimal(38,0)").alias("s2"),
    )
    num = (cdec * F.col("n") - F.col("s1")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
        .cast("double")
    )
    z = num / den
    flat = (F.col("n") * F.col("s2")) == (F.col("s1") * F.col("s1"))
    return (
        stats.select(
            "event_type", "hour_start",
            _unscale_round2(F.col("c"), 2).alias("total_value"),
            F.when(flat, F.lit(None).cast("double"))
            .otherwise(F.floor(z * 1_000_000 + F.lit(0.5)) / 1_000_000)
            .alias("zscore"),
            F.when(flat, F.lit(False))
            .otherwise(F.abs(z) > ZSCORE_FLAG).alias("is_anomaly"),
        )
        .orderBy("event_type", "hour_start")
    )


# ---------------------------------------------------------------------------
# scd2_user_tier_history: type-2 slowly-changing-dimension compaction
# (CDC gaps-and-islands).
# ---------------------------------------------------------------------------

SCD2_USER_TIER_HISTORY_ORACLE = """
    WITH tiers AS (
        SELECT user_id, event_id, ts,
               CASE WHEN value < 5 THEN 'low'
                    WHEN value < 15 THEN 'mid'
                    ELSE 'high' END AS tier
        FROM events
    ),
    flagged AS (
        SELECT *,
               CASE WHEN LAG(tier) OVER w IS DISTINCT FROM tier
                    THEN 1 ELSE 0 END AS chg
        FROM tiers
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
        SELECT *,
               SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS run_id
        FROM flagged
    ),
    intervals AS (
        SELECT user_id, run_id,
               MIN(tier) AS tier,        -- constant within a run
               MIN(ts) AS valid_from,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM runs GROUP BY user_id, run_id
    )
    SELECT user_id, tier, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from) AS valid_to,
           LEAD(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from) IS NULL AS is_current,
           n_events
    FROM intervals
    ORDER BY user_id, valid_from
    """


@query(
    "scd2_user_tier_history",
    oracle=SCD2_USER_TIER_HISTORY_ORACLE,
    tier="local",
)
def scd2_user_tier_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history of each user's value
    tier (low/mid/high), compacted from the raw event stream: one row
    per consecutive same-tier RUN with [valid_from, valid_to) validity,
    an is_current flag on the open interval, and the run's event count.
    This is the CDC/warehouse dimension-history build (Kimball SCD2)
    and the gaps-and-islands classic in one: change detection via LAG,
    island ids via a running sum of change flags, interval closing via
    LEAD over the compacted runs.

    Determinism/exactness: the tier is a CASE over ``value`` (no float
    arithmetic crosses an engine boundary — the comparison thresholds
    are exact doubles), every window orders by (ts, event_id), and the
    output columns are strings/timestamps/longs — hash-exact.

    Scale shape: ONE exchange on user_id serves all three windows and
    the run aggregation (same partition key throughout — Catalyst
    reuses the Exchange; the LEAD windows ride the already-compacted
    interval table, orders of magnitude smaller than the input). No
    global window, no driver state. At 100 TB this is the standard
    dimension-history refresh: partition by the entity key, compact
    within partitions."""
    tier = (
        F.when(F.col("value") < 5, F.lit("low"))
        .when(F.col("value") < 15, F.lit("mid"))
        .otherwise(F.lit("high"))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tiers = load_events(spark, sf_dir).select(
        "user_id", "event_id", "ts", tier.alias("tier")
    )
    flagged = tiers.withColumn(
        "chg",
        F.when(
            ~F.lag("tier").over(w).eqNullSafe(F.col("tier")), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    runs = flagged.withColumn(
        "run_id",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    intervals = runs.groupBy("user_id", "run_id").agg(
        F.min("tier").alias("tier"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    nxt = F.lead("valid_from").over(w2)
    return (
        intervals.select(
            "user_id",
            "tier",
            "valid_from",
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
            "n_events",
        )
        .orderBy("user_id", "valid_from")
    )


# ---------------------------------------------------------------------------
# cohort_daily_retention: signup-cohort x day-offset activity grid.
# ---------------------------------------------------------------------------

COHORT_DAILY_RETENTION_ORACLE = """
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    grid AS (
        SELECT f.cohort_day,
               CAST(d.d - f.cohort_day AS BIGINT) AS day_offset,
               CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS active_users
        FROM daily d JOIN firsts f ON d.user_id = f.user_id
        GROUP BY f.cohort_day, d.d - f.cohort_day
    ),
    sizes AS (
        SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_size
        FROM firsts GROUP BY cohort_day
    )
    SELECT g.cohort_day, g.day_offset, s.cohort_size, g.active_users,
           g.active_users * 1000000 // s.cohort_size AS retention_ppm
    FROM grid g JOIN sizes s ON g.cohort_day = s.cohort_day
    ORDER BY g.cohort_day, day_offset
    """


@query(
    "cohort_daily_retention",
    oracle=COHORT_DAILY_RETENTION_ORACLE,
    tier="local",
)
def cohort_daily_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort-retention grid (the product-analytics retention
    triangle): users are cohorted by the calendar DAY of their first
    event; for each (cohort day, day offset) cell, the distinct users
    active that day, the cohort size, and retention as exact
    parts-per-million (integer multiply-then-DIV — no float division
    crosses the engine boundary). Day arithmetic is exact date
    subtraction on both engines — no week-start or timezone convention
    to diverge on.

    Plan: first-day per user is one user-keyed aggregate; per-user
    active days is one DISTINCT on (user, day) — both map-side
    combinable; the grid is a join on user_id followed by a
    cohort-keyed COUNT(DISTINCT user) whose input is already
    deduplicated to (user, day). Cohort sizes reuse the firsts table
    (group-count-sized). At 100 TB: nothing wider than
    (user_id, date) rides any exchange, and the output is
    days^2-bounded regardless of event volume."""
    ev = load_events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    firsts = ev.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    daily = ev.distinct()
    grid = (
        daily.join(firsts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("d", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("active_users"))
    )
    sizes = firsts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    return (
        grid.join(sizes, "cohort_day")
        .select(
            "cohort_day",
            "day_offset",
            "cohort_size",
            "active_users",
            F.expr("active_users * 1000000 DIV cohort_size")
            .alias("retention_ppm"),
        )
        .orderBy("cohort_day", "day_offset")
    )


# ---------------------------------------------------------------------------
# markov_event_transitions: first-order behavior model of the event
# stream.
# ---------------------------------------------------------------------------

MARKOV_EVENT_TRANSITIONS_ORACLE = """
    WITH seq AS (
        SELECT event_type AS from_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events
    ),
    t AS (
        SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    ),
    tot AS (
        SELECT from_type, CAST(SUM(n) AS BIGINT) AS from_total
        FROM t GROUP BY from_type
    )
    SELECT t.from_type, t.to_type, t.n, tot.from_total,
           t.n * 1000000 // tot.from_total AS prob_ppm
    FROM t JOIN tot ON t.from_type = tot.from_type
    ORDER BY t.from_type, t.to_type
    """


@query(
    "markov_event_transitions",
    oracle=MARKOV_EVENT_TRANSITIONS_ORACLE,
    tier="local",
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of per-user event behavior:
    for each (from_type, to_type) pair, the count of consecutive
    occurrences within a user's (ts, event_id)-ordered stream and the
    transition probability as exact parts-per-million (integer
    multiply-then-DIV). The standard product-analytics behavior model —
    next-action prediction baselines, funnel-shape discovery, bot
    detection (near-deterministic rows stand out).

    Plan: ONE user_id exchange feeds the LEAD window; the transition
    aggregate is map-side combinable down to |types|^2 rows; totals
    derive from THAT table (group-count-sized, never a second corpus
    scan). Output is strings/longs only — hash-exact."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = load_events(spark, sf_dir).select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    t = (
        seq.filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = t.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("from_total")
    )
    return (
        t.join(tot, "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            "from_total",
            F.expr("n * 1000000 DIV from_total").alias("prob_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


# ---------------------------------------------------------------------------
# growth_accounting_daily: DAU split into new / returning (+ WAU).
# ---------------------------------------------------------------------------

GROWTH_ACCOUNTING_DAILY_ORACLE = """
    WITH daily AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    firsts AS (
        SELECT user_id, MIN(d) AS first_day FROM daily GROUP BY user_id
    ),
    flagged AS (
        SELECT daily.d, daily.user_id,
               daily.d = f.first_day AS is_new
        FROM daily JOIN firsts f ON daily.user_id = f.user_id
    ),
    dau AS (
        SELECT d,
               CAST(COUNT(*) AS BIGINT) AS dau,
               CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
                   AS new_users
        FROM flagged GROUP BY d
    ),
    wau AS (
        SELECT a.d, CAST(COUNT(DISTINCT b.user_id) AS BIGINT) AS wau
        FROM (SELECT DISTINCT d FROM daily) a
        JOIN daily b ON b.d BETWEEN a.d - 6 AND a.d
        GROUP BY a.d
    )
    SELECT dau.d AS day, dau.dau, dau.new_users,
           dau.dau - dau.new_users AS returning_users,
           wau.wau,
           dau.dau * 1000000 // wau.wau AS stickiness_ppm
    FROM dau JOIN wau ON dau.d = wau.d
    ORDER BY day
    """


@query(
    "growth_accounting_daily",
    oracle=GROWTH_ACCOUNTING_DAILY_ORACLE,
    tier="local",
)
def growth_accounting_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting (the DAU/WAU board metric): per day, the
    distinct active users split into NEW (first-ever-seen that day) and
    RETURNING, the trailing-7-day WAU, and DAU/WAU stickiness as exact
    parts-per-million. All counts are exact integers over (user, day)
    facts — hash-exact.

    Plan: the (user, day) dedup and first-day table are the cohort
    query's stages (one user-keyed aggregate each); the WAU term is a
    bounded self-RANGE-join of the deduped day table against the
    distinct-days spine — the join expands each (user, day) row into
    at most 7 spine days, so the intermediate is 7x the deduped table,
    never events x days. At 100 TB the deduped (user, day) table is
    the only corpus-derived input to every stage."""
    daily = (
        load_events(spark, sf_dir)
        .select(F.col("ts").cast("date").alias("d"), "user_id")
        .distinct()
        .localCheckpoint()  # feeds firsts, dau, and the WAU range join
    )
    firsts = daily.groupBy("user_id").agg(F.min("d").alias("first_day"))
    flagged = daily.join(firsts, "user_id").select(
        "d", "user_id", (F.col("d") == F.col("first_day")).alias("is_new")
    )
    dau = flagged.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("dau"),
        F.sum(F.when(F.col("is_new"), 1).otherwise(0))
        .cast("long").alias("new_users"),
    )
    spine = daily.select("d").distinct().select(F.col("d").alias("sd"))
    wau = (
        spine.join(
            daily,
            (F.col("d") >= F.date_sub(F.col("sd"), 6))
            & (F.col("d") <= F.col("sd")),
        )
        .groupBy("sd")
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
    )
    return (
        dau.join(wau, dau["d"] == wau["sd"])
        .select(
            F.col("d").alias("day"),
            "dau",
            "new_users",
            (F.col("dau") - F.col("new_users")).alias("returning_users"),
            "wau",
            F.expr("dau * 1000000 DIV wau").alias("stickiness_ppm"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# path_trigrams_top: most common 3-step behavior paths.
# ---------------------------------------------------------------------------

PATH_TOP_K = 20

PATH_TRIGRAMS_TOP_ORACLE = f"""
    WITH seq AS (
        SELECT event_type AS e1,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY n DESC, e1, e2, e3
    LIMIT {PATH_TOP_K}
    """


@query("path_trigrams_top", oracle=PATH_TRIGRAMS_TOP_ORACLE, tier="local")
def path_trigrams_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PATH_TOP_K (20) most common 3-step event paths across users
    (the path-analysis complement of the first-order Markov matrix —
    trigrams expose patterns transition pairs factor away, e.g.
    view->click->purchase vs view->click->error). Same shape economics
    as markov_event_transitions: ONE user_id exchange feeds both LEAD
    windows (same spec — one Window node), counts fold map-side to at
    most |types|^3 rows, and the cut is TakeOrderedAndProject with a
    full deterministic tiebreak."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = load_events(spark, sf_dir).select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.filter(F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), "e1", "e2", "e3")
        .limit(PATH_TOP_K)
    )


# ---------------------------------------------------------------------------
# ohlc_hourly + twap_daily: market-data aggregation shapes over the
# irregular event stream. Implemented r9 local-only; REGISTERED r11
# into the two driver slots the r10 retirements freed (r10 VERDICT
# "Next round" item 2) — green at both SFs in LOCALCHECK_r09/r10 first.
# ---------------------------------------------------------------------------

OHLC_HOURLY_ORACLE = """
    WITH px AS (
        SELECT event_type, ts, event_id,
               CAST(FLOOR(value * 100 + 0.5e0) AS BIGINT) AS cents
        FROM events
    ),
    ranked AS (
        SELECT event_type, date_trunc('hour', ts) AS hour_start, cents,
               ROW_NUMBER() OVER w_asc AS rn_open,
               ROW_NUMBER() OVER w_desc AS rn_close
        FROM px
        WINDOW w_asc AS (PARTITION BY event_type, date_trunc('hour', ts)
                         ORDER BY ts, event_id),
               w_desc AS (PARTITION BY event_type, date_trunc('hour', ts)
                          ORDER BY ts DESC, event_id DESC)
    )
    SELECT event_type, hour_start,
           CAST(MAX(CASE WHEN rn_open = 1 THEN cents END) AS BIGINT)
               AS open_cents,
           MAX(cents) AS high_cents,
           MIN(cents) AS low_cents,
           CAST(MAX(CASE WHEN rn_close = 1 THEN cents END) AS BIGINT)
               AS close_cents,
           CAST(COUNT(*) AS BIGINT) AS n_ticks
    FROM ranked
    GROUP BY event_type, hour_start
    ORDER BY event_type, hour_start
    """


@query("ohlc_hourly", OHLC_HOURLY_ORACLE)
def ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candlesticks per event type — the market-data
    aggregation the reference's domain (a market ETL) implies but never
    ships: open/close are the first/last tick under the deterministic
    total order (ts, event_id) (a bare arg_min/first over ts would be
    tie-nondeterministic and engines would disagree), high/low are
    plain MIN/MAX, prices ride exact cents. Formulated as two
    row_number windows over ONE (type, hour) partitioning feeding a
    single aggregate — both windows and the groupBy reuse the same
    exchange.

    At 100 TB tick volume this is the standard first rollup: one
    exchange on (instrument, hour), everything downstream
    candle-count-sized. The close of hour h and open of h+1 stitch into
    the continuous series the rollup_multiresolution family then
    compacts upward."""
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    hour = F.date_trunc("hour", F.col("ts")).alias("hour_start")
    px = load_events(spark, sf_dir).select(
        "event_type", "ts", "event_id", cents.alias("cents"), hour
    )
    w_asc = Window.partitionBy("event_type", "hour_start").orderBy(
        "ts", "event_id"
    )
    w_desc = Window.partitionBy("event_type", "hour_start").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = px.select(
        "event_type",
        "hour_start",
        "cents",
        F.row_number().over(w_asc).alias("rn_open"),
        F.row_number().over(w_desc).alias("rn_close"),
    )
    return (
        ranked.groupBy("event_type", "hour_start")
        .agg(
            F.max(F.when(F.col("rn_open") == 1, F.col("cents")))
            .cast("long").alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.max(F.when(F.col("rn_close") == 1, F.col("cents")))
            .cast("long").alias("close_cents"),
            F.count(F.lit(1)).cast("long").alias("n_ticks"),
        )
        .orderBy("event_type", "hour_start")
    )


TWAP_DAILY_ORACLE = """
    WITH px AS (
        SELECT event_type, ts, event_id,
               CAST(ts AS DATE) AS day,
               CAST(FLOOR(value * 100 + 0.5e0) AS BIGINT) AS cents
        FROM events
    ),
    held AS (
        SELECT event_type, day, cents,
               epoch_us(COALESCE(
                   LEAD(ts) OVER (PARTITION BY event_type, day
                                  ORDER BY ts, event_id),
                   CAST(day + 1 AS TIMESTAMP))) - epoch_us(ts)
                   AS held_us
        FROM px
    )
    SELECT event_type, day,
           CAST(SUM(cents * held_us) AS BIGINT) AS cents_us,
           CAST(SUM(held_us) AS BIGINT) AS held_total_us,
           CAST(CAST(SUM(cents * held_us) AS BIGINT)
                // CAST(SUM(held_us) AS BIGINT) AS BIGINT) AS twap_cents,
           CAST(COUNT(*) AS BIGINT) AS n_ticks
    FROM held
    GROUP BY event_type, day
    ORDER BY event_type, day
    """


@query("twap_daily", TWAP_DAILY_ORACLE)
def twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily time-weighted average price per event type over the
    IRREGULAR tick stream (TimescaleDB's time_weight shape): each tick
    holds its price until the next tick in the same (type, day), the
    last tick holds until midnight, and TWAP = sum(price x held
    seconds) / sum(held seconds) — the estimator a plain AVG gets wrong
    whenever sampling density correlates with level (burst-heavy
    streams). All integer arithmetic: cents x whole seconds, truncating
    DIV — hash-exact.

    Day-boundary convention (deliberate, mirrored in the oracle): the
    holding clock starts at each type's FIRST tick of the day, not at
    midnight — no carry-in from the previous day's close, so days are
    independently computable (embarrassingly parallel at 100 TB; a
    carried-LOCF variant would chain days and is the gap-fill family's
    job). One (type, day)-keyed exchange serves the LEAD window and the
    aggregate."""
    px = load_events(spark, sf_dir).select(
        "event_type",
        "ts",
        "event_id",
        F.col("ts").cast("date").alias("day"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        .alias("cents"),
    )
    w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    nxt = F.coalesce(
        F.lead("ts").over(w),
        F.date_add(F.col("day"), 1).cast("timestamp"),
    )
    held = px.select(
        "event_type",
        "day",
        "cents",
        (F.unix_micros(nxt) - F.unix_micros("ts"))
        .cast("long").alias("held_us"),
    )
    return (
        held.groupBy("event_type", "day")
        .agg(
            F.sum(F.col("cents") * F.col("held_us"))
            .cast("long").alias("cents_us"),
            F.sum("held_us").cast("long").alias("held_total_us"),
            F.expr(
                "CAST(sum(cents * held_us) AS BIGINT)"
                " DIV sum(held_us)"
            ).alias("twap_cents"),
            F.count(F.lit(1)).cast("long").alias("n_ticks"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Mergeable candle state: the OHLC monoid (sink-class, local tests —
# the day_rollup_state pattern applied to market candles).
# ---------------------------------------------------------------------------

def candle_state(events: DataFrame) -> DataFrame:
    """The mergeable OHLC state of an event slice, one row per
    (event_type, hour_start): open/close carry their (ts, event_id)
    attribution keys so the merge can re-decide them, high/low are
    plain extremes, n_ticks sums. Candles form a commutative MONOID —
    open = argmin over (ts, id), close = argmax, extremes and counts
    fold — which is what lets 100 TB tick pipelines build candles
    per-partition/per-batch and merge, never re-scanning ticks
    (the day_rollup_state / cms_counter_state algebra, third member)."""
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    px = events.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour_start"),
        F.col("ts"),
        F.col("event_id"),
        cents.alias("cents"),
    )
    open_key = F.struct(
        F.col("ts").alias("k_ts"),
        F.col("event_id").alias("k_id"),
        F.col("cents").alias("k_cents"),
    )
    return px.groupBy("event_type", "hour_start").agg(
        F.min(open_key).alias("open_k"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.max(open_key).alias("close_k"),
        F.count(F.lit(1)).cast("long").alias("n_ticks"),
    )


def merge_candle_states(*states: DataFrame) -> DataFrame:
    """Fold any number of candle-state slices into one: re-minimize /
    re-maximize the attributed open/close keys (struct ordering is
    lexicographic on (ts, event_id, cents) — ties beyond (ts, id)
    cannot occur since (ts, id) is unique), fold extremes, sum counts.
    Associative and commutative; split-vs-full exactness pinned in
    tests/test_timeseries.py."""
    from functools import reduce

    u = reduce(lambda a, b: a.unionAll(b), states)
    return u.groupBy("event_type", "hour_start").agg(
        F.min("open_k").alias("open_k"),
        F.max("high_cents").alias("high_cents"),
        F.min("low_cents").alias("low_cents"),
        F.max("close_k").alias("close_k"),
        F.sum("n_ticks").cast("long").alias("n_ticks"),
    )


def present_candles(state: DataFrame) -> DataFrame:
    """Render a candle state in ohlc_hourly's exact output schema —
    presentation only, no re-aggregation."""
    return state.select(
        "event_type",
        "hour_start",
        F.col("open_k.k_cents").alias("open_cents"),
        "high_cents",
        "low_cents",
        F.col("close_k.k_cents").alias("close_cents"),
        "n_ticks",
    ).orderBy("event_type", "hour_start")


# ---------------------------------------------------------------------------
# ts_cusum_changepoints: CUSUM change-point detection over the daily
# value series.
# ---------------------------------------------------------------------------

CUSUM_H_MULT = 4  # threshold = CUSUM_H_MULT x mean |deviation|, in cents

TS_CUSUM_CHANGEPOINTS_ORACLE = f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS daily_cents
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT CAST(SUM(daily_cents) // COUNT(*) AS BIGINT) AS mu FROM daily
    ),
    dev AS (
        SELECT day, daily_cents,
               daily_cents - m.mu AS dev_cents
        FROM daily, m
    ),
    h AS (
        SELECT CAST({CUSUM_H_MULT} * SUM(ABS(dev_cents)) // COUNT(*)
                    AS BIGINT) AS h
        FROM dev
    ),
    p AS (
        SELECT day, daily_cents, dev_cents,
               CAST(SUM(dev_cents) OVER (ORDER BY day) AS BIGINT) AS pref
        FROM dev
    ),
    s AS (
        SELECT day, daily_cents, dev_cents,
               pref - LEAST(0, MIN(pref) OVER (ORDER BY day)) AS cusum_up,
               GREATEST(0, MAX(pref) OVER (ORDER BY day)) - pref AS cusum_down
        FROM p
    )
    SELECT s.day, s.daily_cents, s.dev_cents,
           CAST(s.cusum_up AS BIGINT) AS cusum_up,
           CAST(s.cusum_down AS BIGINT) AS cusum_down,
           (s.cusum_up > h.h OR s.cusum_down > h.h) AS flagged
    FROM s, h
    ORDER BY day
    """


@query(
    "ts_cusum_changepoints",
    oracle=TS_CUSUM_CHANGEPOINTS_ORACLE,
    tier="local",
)
def ts_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM (Page 1954) change-point detection over the daily total
    value series — the level-shift monitor a metrics warehouse runs on
    every KPI. Entirely integer-exact: daily sums in cents, the
    reference level mu = total DIV n_days, one-sided cumulative sums,
    and a data-derived threshold H = CUSUM_H_MULT x mean |deviation|,
    so the DuckDB twin is hash-exact including the flag booleans.

    The clamped CUSUM recursion S+_i = max(0, S+_{{i-1}} + dev_i) is a
    fold, not a window function — but it has a closed form over prefix
    sums: with P_i the running sum of deviations,
    S+_i = P_i - min(0, min_{{j<=i}} P_j) and
    S-_i = max(0, max_{{j<=i}} P_j) - P_i
    (induction: max(0, P_{{i-1}} - M_{{i-1}} + dev_i) = P_i - min(M_{{i-1}},
    P_i) with M the clamped running min). That turns the sequential
    recursion into two ordinary running-extreme windows — the same
    trick that makes max-drawdown distributed-friendly.

    Scale shape: the ONLY full-data operation is the map-side
    combinable day-grain aggregate; everything after (the scalar mu/H
    broadcasts and the SinglePartition running windows) rides the
    day-grain series, whose row count is bounded by the calendar
    (365/year) regardless of fact size — the justified exception to
    the no-SinglePartition-window rule, same argument as the gap-fill
    spine."""
    daily = (
        load_events(spark, sf_dir)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum(cents("value")).cast("long").alias("daily_cents"))
    )
    return cusum_frame(daily)


def cusum_frame(daily: DataFrame, h_mult: int = CUSUM_H_MULT) -> DataFrame:
    """Core of ts_cusum_changepoints over any (day, daily_cents) series
    — split out so the planted level-shift test can pin the
    prefix-sum/running-extreme closed form against the sequential
    clamped fold directly."""
    mu = daily.agg(
        F.expr("sum(daily_cents) DIV count(*)").cast("long").alias("mu")
    )
    dev = daily.crossJoin(F.broadcast(mu)).select(
        "day",
        "daily_cents",
        (F.col("daily_cents") - F.col("mu")).alias("dev_cents"),
    )
    h = dev.agg(
        F.expr(f"{h_mult} * sum(abs(dev_cents)) DIV count(*)")
        .cast("long")
        .alias("h")
    )
    w_run = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    p = dev.withColumn("pref", F.sum("dev_cents").over(w_run).cast("long"))
    s = p.select(
        "day",
        "daily_cents",
        "dev_cents",
        (
            F.col("pref")
            - F.least(F.lit(0).cast("long"), F.min("pref").over(w_run))
        ).cast("long").alias("cusum_up"),
        (
            F.greatest(F.lit(0).cast("long"), F.max("pref").over(w_run))
            - F.col("pref")
        ).cast("long").alias("cusum_down"),
    )
    return (
        s.crossJoin(F.broadcast(h))
        .select(
            "day",
            "daily_cents",
            "dev_cents",
            "cusum_up",
            "cusum_down",
            (
                (F.col("cusum_up") > F.col("h"))
                | (F.col("cusum_down") > F.col("h"))
            ).alias("flagged"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# trend_daily_regression: exact per-type OLS trend over the daily series.
# ---------------------------------------------------------------------------

TREND_DAILY_REGRESSION_ORACLE = """
    WITH daily AS (
        SELECT event_type,
               CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS x,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS y
        FROM events
        GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT)
               AS slope_num,
           CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS BIGINT)
               AS slope_den,
           CAST(CASE WHEN COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) = 0
                     THEN 0
                     ELSE (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y)) * 100
                          // (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))
                END AS BIGINT) AS slope_centi_cents
    FROM daily
    GROUP BY event_type
    ORDER BY event_type
    """


@query(
    "trend_daily_regression",
    oracle=TREND_DAILY_REGRESSION_ORACLE,
    tier="local",
)
def trend_daily_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type trend detection: exact ordinary-least-squares slope of
    the daily value series against the day index — the 'is this KPI
    drifting' statistic next to ts_cusum_changepoints' 'did it jump'.
    The OLS slope (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) is a ratio of two
    INTEGER quantities when x is the day ordinal and y exact cents, so
    the report carries the exact numerator and denominator plus the
    floor-divided slope in centi-cents/day — hash-exact, no float in
    sight (the usual covariance/variance double formulation is
    summation-order-dependent and cross-engine inexact).

    Envelope: x ≤ days, y ≤ day-total cents; n·Σxy is bounded by
    days²·Σy — at 1e6 days (2,700 years) and $10¹¹ daily cents it
    stays under 2^63; real horizons are ≤ 10⁴ days.

    Scale shape: the only full-data pass is the map-side-combinable
    (type, day) aggregate; the regression itself is a second aggregate
    over the day-grain series (calendar-bounded rows), all sums
    integer and order-free. Degenerate single-day groups report
    slope 0 with slope_den = 0 (both engines via the same CASE)."""
    daily = (
        load_events(spark, sf_dir)
        .groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
            .cast("long")
            .alias("x"),
        )
        .agg(F.sum(cents("value")).cast("long").alias("y"))
    )
    return trend_frame(daily)


def trend_frame(daily: DataFrame) -> DataFrame:
    """Core of trend_daily_regression over any (event_type, x, y)
    day-grain frame — split out so planted exact-slope /
    negative-trend / single-day tests can pin the integer OLS
    arithmetic directly."""
    n = F.count(F.lit(1)).cast("long")
    num = (n * F.sum(F.col("x") * F.col("y"))
           - F.sum("x") * F.sum("y")).cast("long")
    den = (n * F.sum(F.col("x") * F.col("x"))
           - F.sum("x") * F.sum("x")).cast("long")
    return (
        daily.groupBy("event_type")
        .agg(
            n.alias("n_days"),
            num.alias("slope_num"),
            den.alias("slope_den"),
        )
        .select(
            "event_type",
            "n_days",
            "slope_num",
            "slope_den",
            F.when(F.col("slope_den") == 0, F.lit(0).cast("long"))
            .otherwise(F.expr("slope_num * 100 DIV slope_den"))
            .alias("slope_centi_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# user_lifetime_stats: the per-user lifetime mart.
# ---------------------------------------------------------------------------

USER_LIFETIME_STATS_ORACLE = """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days,
           CAST(MIN(ts) AS DATE) AS first_day,
           CAST(MAX(ts) AS DATE) AS last_day,
           CAST(CAST(MAX(ts) AS DATE) - CAST(MIN(ts) AS DATE) + 1
                AS BIGINT) AS lifetime_days,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS lifetime_cents,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) * 1000000
                // (CAST(MAX(ts) AS DATE) - CAST(MIN(ts) AS DATE) + 1)
                AS BIGINT) AS activity_ppm
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """


@query("user_lifetime_stats", oracle=USER_LIFETIME_STATS_ORACLE, tier="local")
def user_lifetime_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-user LIFETIME mart every analytics stack materializes:
    event count, distinct active days, first/last day, calendar
    lifetime span, lifetime value in exact cents, and the activity
    density (active_days / lifetime_days) in exact ppm — the
    engagement statistic cohort models bucket on. Complements
    growth_accounting_daily (corpus-grain DAU/WAU) with the user-grain
    rollup.

    Exactness: cents for money, dates for time, DIV for the density —
    every column integer or date, hash-exact. Scale shape: ONE
    map-side-combinable user_id aggregate is the whole query (the
    distinct-days term rides the same exchange via partial distinct
    aggregation); output is user-cardinality, the natural serving
    grain."""
    ev = load_events(spark, sf_dir).select(
        "user_id",
        F.to_date("ts").alias("day"),
        cents("value").alias("c"),
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("day").cast("long").alias("active_days"),
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
            F.sum("c").cast("long").alias("lifetime_cents"),
        )
        .select(
            "user_id",
            "n_events",
            "active_days",
            "first_day",
            "last_day",
            (F.datediff("last_day", "first_day") + 1).cast("long")
            .alias("lifetime_days"),
            "lifetime_cents",
            F.expr(
                "active_days * 1000000"
                " DIV (datediff(last_day, first_day) + 1)"
            ).cast("long").alias("activity_ppm"),
        )
        .select(
            "user_id", "n_events", "active_days", "first_day", "last_day",
            "lifetime_days", "lifetime_cents", "activity_ppm",
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# ts_seasonal_dow_profile: day-of-week seasonal baseline + residuals
# over the daily revenue series.
# ---------------------------------------------------------------------------

TS_SEASONAL_DOW_PROFILE_ORACLE = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               (EXTRACT(isodow FROM CAST(ts AS DATE)) - 1)::BIGINT AS dow,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5e0) AS BIGINT))
                    AS BIGINT) AS day_cents
        FROM events
        GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT event_type, day, dow, day_cents,
           CAST(SUM(day_cents) OVER w // COUNT(*) OVER w AS BIGINT)
               AS base_cents,
           CAST(day_cents
                - SUM(day_cents) OVER w // COUNT(*) OVER w
                AS BIGINT) AS residual_cents
    FROM daily
    WINDOW w AS (PARTITION BY event_type, dow)
    ORDER BY event_type, day
    """


@query(
    "ts_seasonal_dow_profile",
    oracle=TS_SEASONAL_DOW_PROFILE_ORACLE,
    tier="local",
)
def ts_seasonal_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal decomposition of the daily revenue series,
    per event type: each day's exact-cents total, the SEASONAL BASELINE
    for its weekday (mean of all same-weekday days, truncating integer
    division), and the residual — the de-seasonalized signal anomaly
    detectors should consume instead of the raw series (a quiet Sunday
    is not an incident; a quiet Tuesday may be). Complements the
    rolling-zscore and CUSUM queries, which are seasonality-blind.
    Weekday rides the pinned Mon=0 convention (scalar_date_smart_key;
    F.weekday == isodow - 1).

    Exactness: cents in, truncating DIV for the mean, so baseline and
    residual are exact longs. Plan: one (type, day) aggregate — the
    same first rollup every series query pays — then one (type, dow)
    window pass computing SUM/COUNT over the 7-bucket season; the
    window reuses a day-grain frame that is already tiny (days x
    types), so at 100 TB the only data-sized stage is the initial
    rollup."""
    ev = load_events(spark, sf_dir)
    tick_cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    daily = (
        ev.select(
            "event_type", F.to_date("ts").alias("day"),
            tick_cents.alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").cast("long").alias("day_cents"))
        .select(
            "event_type",
            "day",
            F.weekday("day").cast("long").alias("dow"),
            "day_cents",
        )
    )
    return (
        daily.select(
            "event_type",
            "day",
            "dow",
            "day_cents",
            F.expr(
                "sum(day_cents) OVER (PARTITION BY event_type, dow)"
                " DIV count(*) OVER (PARTITION BY event_type, dow)"
            ).cast("long").alias("base_cents"),
            F.expr(
                "day_cents - sum(day_cents)"
                " OVER (PARTITION BY event_type, dow)"
                " DIV count(*) OVER (PARTITION BY event_type, dow)"
            ).cast("long").alias("residual_cents"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# ts_ewma_smoothing: exact truncating-fold EWMA (alpha = 1/2) over the
# daily series.
# ---------------------------------------------------------------------------

TS_EWMA_SMOOTHING_ORACLE = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5e0) AS BIGINT))
                    AS BIGINT) AS day_cents
        FROM events
        GROUP BY event_type, CAST(ts AS DATE)
    ),
    arr AS (
        SELECT event_type,
               list(day ORDER BY day) AS days,
               list(day_cents ORDER BY day) AS cents
        FROM daily GROUP BY event_type
    ),
    idx AS (
        SELECT event_type, days, cents,
               unnest(generate_series(1, len(cents))) AS t
        FROM arr
    )
    SELECT event_type,
           days[t] AS day,
           cents[t] AS day_cents,
           CAST(list_reduce(cents[1:t], (a, x) -> (a + x) // 2)
                AS BIGINT) AS ewma_cents
    FROM idx
    ORDER BY event_type, day
    """


@query("ts_ewma_smoothing", oracle=TS_EWMA_SMOOTHING_ORACLE, tier="local")
def ts_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the daily revenue
    series, alpha = 1/2, as an EXACT integer fold: S_1 = v_1,
    S_t = (S_{t-1} + v_t) DIV 2 — the trend smoother dashboards layer
    under the raw series. The float EWMA (v·α + S·(1−α) in doubles)
    is summation-order-stable but rounding-divergent across engines;
    halving with truncating DIV keeps every step a long, so the whole
    smoothed series is hash-exact.

    The fold is genuinely NON-ASSOCIATIVE (truncation each step), so
    unlike CUSUM it cannot be rewritten as prefix sums: the kernel
    collects each type's day-ordered series into an array (bounded by
    the CALENDAR — ~365 rows/type/year — never by event volume, the
    same bounded-grain argument as the rollup family) and evaluates
    prefix folds with the aggregate HOF; per-type work is O(days²) on
    the day grain, a few hundred thousand long-adds at worst. The only
    event-volume-sized stage is the (type, day) rollup every series
    query pays. DuckDB twin: list_reduce over the same prefix slices."""
    ev = load_events(spark, sf_dir)
    tick_cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    daily = (
        ev.select(
            "event_type", F.to_date("ts").alias("day"),
            tick_cents.alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").cast("long").alias("day_cents"))
    )
    arr = daily.groupBy("event_type").agg(
        F.sort_array(
            F.collect_list(F.struct("day", "day_cents"))
        ).alias("series")
    )
    return (
        arr.select(
            "event_type",
            "series",
            F.posexplode("series").alias("pos", "row"),
        )
        .select(
            "event_type",
            F.col("row.day").alias("day"),
            F.col("row.day_cents").alias("day_cents"),
            F.expr(
                "aggregate(slice(series.day_cents, 2, pos),"
                " series.day_cents[0],"
                " (a, x) -> (a + x) DIV 2)"
            ).cast("long").alias("ewma_cents"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# ts_anomaly_mad_flags: the composed anomaly detector — seasonal
# residuals scored against a robust (median/MAD) envelope.
# ---------------------------------------------------------------------------

ANOMALY_MAD_MULT = 3  # flag |residual - median| > 3 * MAD

TS_ANOMALY_MAD_FLAGS_ORACLE = f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               (EXTRACT(isodow FROM CAST(ts AS DATE)) - 1)::BIGINT AS dow,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5e0) AS BIGINT))
                    AS BIGINT) AS day_cents
        FROM events
        GROUP BY event_type, CAST(ts AS DATE)
    ),
    res AS (
        SELECT event_type, day, day_cents,
               CAST(day_cents
                    - SUM(day_cents) OVER w // COUNT(*) OVER w
                    AS BIGINT) AS residual_cents
        FROM daily
        WINDOW w AS (PARTITION BY event_type, dow)
    ),
    arrs AS (
        SELECT event_type,
               list(residual_cents ORDER BY residual_cents) AS rs
        FROM res GROUP BY event_type
    ),
    meds AS (
        SELECT event_type, rs[(len(rs) + 1) // 2] AS med FROM arrs
    ),
    stats AS (
        SELECT a.event_type, m.med,
               list_sort(list_transform(a.rs, x -> ABS(x - m.med)))
                   [(len(a.rs) + 1) // 2] AS mad
        FROM arrs a JOIN meds m ON a.event_type = m.event_type
    )
    SELECT r.event_type, r.day, r.day_cents, r.residual_cents,
           CAST(s.med AS BIGINT) AS med_residual_cents,
           CAST(s.mad AS BIGINT) AS mad_cents,
           (ABS(r.residual_cents - s.med)
            > {ANOMALY_MAD_MULT} * s.mad) AS is_anomaly
    FROM res r JOIN stats s ON r.event_type = s.event_type
    ORDER BY r.event_type, r.day
    """


@query(
    "ts_anomaly_mad_flags",
    oracle=TS_ANOMALY_MAD_FLAGS_ORACLE,
    tier="local",
)
def ts_anomaly_mad_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED anomaly detector the time-series family has been
    building toward: de-seasonalize the daily revenue series against
    its day-of-week baseline (ts_seasonal_dow_profile's residual), then
    score each residual against a ROBUST envelope — the per-type lower
    median and MAD of residuals (agg_mad_robust's estimator pair) —
    flagging days where |residual − median| > 3·MAD. Each stage fixes
    the previous one's blind spot: raw thresholds fire every weekend
    (seasonality), mean/stddev envelopes get dragged by the outliers
    they hunt (non-robust), and seasonal residuals alone have no
    severity scale.

    Exactness: cents + truncating DIV baselines + LOWER median via
    sorted-array indexing — every column an exact long, boolean flag
    CASE'd identically. The median/MAD per type ride ONE sorted
    collect_list whose length is CALENDAR-bounded (the ts_ewma
    argument): ~365 longs/type/year, never event-volume. The only
    event-sized stage is the (type, day) rollup; the stats frame
    broadcasts back onto day-grain rows."""
    ev = load_events(spark, sf_dir)
    tick_cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    daily = (
        ev.select(
            "event_type", F.to_date("ts").alias("day"),
            tick_cents.alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").cast("long").alias("day_cents"))
        .select(
            "event_type", "day",
            F.weekday("day").cast("long").alias("dow"),
            "day_cents",
        )
    )
    res = daily.select(
        "event_type",
        "day",
        "day_cents",
        F.expr(
            "day_cents - sum(day_cents)"
            " OVER (PARTITION BY event_type, dow)"
            " DIV count(*) OVER (PARTITION BY event_type, dow)"
        ).cast("long").alias("residual_cents"),
    )
    arrs = res.groupBy("event_type").agg(
        F.sort_array(F.collect_list("residual_cents")).alias("rs")
    )
    meds = arrs.select(
        "event_type",
        "rs",
        F.expr(
            "element_at(rs, CAST((size(rs) + 1) DIV 2 AS INT))"
        ).alias("med"),
    )
    stats = meds.select(
        "event_type",
        "med",
        F.expr(
            "element_at(sort_array(transform(rs, x -> abs(x - med))),"
            " CAST((size(rs) + 1) DIV 2 AS INT))"
        ).alias("mad"),
    )
    return (
        res.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "day",
            "day_cents",
            "residual_cents",
            F.col("med").cast("long").alias("med_residual_cents"),
            F.col("mad").cast("long").alias("mad_cents"),
            (
                F.abs(F.col("residual_cents") - F.col("med"))
                > ANOMALY_MAD_MULT * F.col("mad")
            ).alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# cdc_merge_apply: MERGE INTO / CDC-upsert batch apply.
# ---------------------------------------------------------------------------

CDC_CUTOFF = "2024-01-21"  # events fixtures span 2024-01-01..01-30 at every SF

CDC_MERGE_APPLY_ORACLE = f"""
    WITH base AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MAX(ts) AS last_ts
        FROM events WHERE ts < TIMESTAMP '{CDC_CUTOFF}'
        GROUP BY user_id
    ),
    batch AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_new,
               MAX(ts) AS new_last_ts,
               CASE WHEN SUM(CASE WHEN event_type = 'error' THEN 1
                                  ELSE 0 END) > 0
                    THEN 'D' ELSE 'U' END AS op
        FROM events WHERE ts >= TIMESTAMP '{CDC_CUTOFF}'
        GROUP BY user_id
    )
    SELECT user_id,
           CASE WHEN batch.user_id IS NULL THEN 'kept'
                WHEN base.user_id IS NULL THEN 'inserted'
                ELSE 'updated' END AS action,
           CAST(COALESCE(base.n_events, 0) + COALESCE(batch.n_new, 0)
                AS BIGINT) AS n_events,
           CASE WHEN batch.user_id IS NULL THEN base.last_ts
                ELSE batch.new_last_ts END AS last_ts
    FROM base FULL OUTER JOIN batch USING (user_id)
    WHERE batch.op IS NULL OR batch.op <> 'D'
    ORDER BY user_id
    """


@query("cdc_merge_apply", oracle=CDC_MERGE_APPLY_ORACLE, tier="local")
def cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (the Delta/Iceberg CDC-upsert apply) as a
    pure DataFrame pipeline: a BASE dimension state (per-user event
    count + last-seen before the CDC_CUTOFF) merged with a CHANGE
    BATCH (per-user deltas after the cutoff, op = 'D' delete when the
    batch contains an error event, else 'U' upsert) —
    WHEN MATCHED AND op='D' THEN DELETE /
    WHEN MATCHED THEN UPDATE (additive counts, new last_ts) /
    WHEN NOT MATCHED AND op='U' THEN INSERT /
    base rows without a change pass through. Output carries the
    per-row action (kept/updated/inserted) so the apply is auditable;
    deletes are attested by ABSENCE under the full-outer hash compare.

    Scale shape: MERGE is exactly one full-outer hash join of the two
    key-grain aggregates (each map-side combinable from its scan
    slice; the cutoff predicate pushes to parquet) — the same plan a
    lakehouse MERGE compiles to before write materialization. No
    window, no single partition; at 100 TB the join is the only
    key-sized exchange and AQE picks broadcast when a change batch is
    small (the common case for incremental CDC)."""
    events = load_events(spark, sf_dir)
    cut = F.lit(CDC_CUTOFF).cast("timestamp")
    base = (
        events.filter(F.col("ts") < cut)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("ts").alias("last_ts"),
        )
    )
    batch = (
        events.filter(F.col("ts") >= cut)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_new"),
            F.max("ts").alias("new_last_ts"),
            F.when(
                F.sum(
                    F.when(F.col("event_type") == "error", 1).otherwise(0)
                ) > 0,
                F.lit("D"),
            ).otherwise(F.lit("U")).alias("op"),
        )
    )
    merged = base.join(batch, "user_id", "full_outer")
    return (
        merged.filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            "user_id",
            F.when(F.col("op").isNull(), F.lit("kept"))
            .when(F.col("n_events").isNull(), F.lit("inserted"))
            .otherwise(F.lit("updated")).alias("action"),
            (
                F.coalesce(F.col("n_events"), F.lit(0))
                + F.coalesce(F.col("n_new"), F.lit(0))
            ).cast("long").alias("n_events"),
            F.when(F.col("op").isNull(), F.col("last_ts"))
            .otherwise(F.col("new_last_ts")).alias("last_ts"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# user_activity_streaks: gaps-and-islands longest-streak distribution.
# ---------------------------------------------------------------------------

USER_ACTIVITY_STREAKS_ORACLE = """
    WITH active AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    runs AS (
        SELECT user_id,
               d - CAST(ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY d
                   ) AS INTEGER) AS anchor
        FROM active
    ),
    streaks AS (
        SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS len
        FROM runs GROUP BY 1, 2
    ),
    longest AS (
        SELECT user_id, MAX(len) AS streak_days FROM streaks GROUP BY 1
    )
    SELECT streak_days, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MIN(user_id) AS BIGINT) AS example_user
    FROM longest GROUP BY 1 ORDER BY streak_days
    """


@query(
    "user_activity_streaks",
    oracle=USER_ACTIVITY_STREAKS_ORACLE,
    tier="local",
)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user, rolled up to the
    engagement distribution (streak length -> user count + the smallest
    example user id) — the classic GAPS-AND-ISLANDS decomposition:
    within each user's distinct active-day sequence,
    ``anchor = day - row_number()`` is constant exactly across a run of
    consecutive days, so grouping by (user, anchor) yields the runs and
    their lengths without any self-join.

    Scale shape: the (user, day) DISTINCT folds map-side; the one
    window is ``partitionBy(user_id)`` whose per-key row count is
    bounded by the CALENDAR (days in the observation span), not by
    event volume — the same bounded-grain argument the R6 lint encodes;
    the two rollups are group-count-sized. Nothing wider than
    (user_id, date) rides any exchange at 100 TB. Cross-engine
    determinism: pure date/integer arithmetic (exact date - int on both
    engines), no floats anywhere.

    Reference parity: beyond-reference analytics surface (the
    reference has no window operators); complements
    cohort_daily_retention (same (user, day) grain, streaks instead of
    offsets)."""
    active = (
        load_events(spark, sf_dir)
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    runs = active.withColumn(
        "anchor", F.date_sub("d", F.row_number().over(w))
    )
    streaks = runs.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    longest = streaks.groupBy("user_id").agg(
        F.max("len").alias("streak_days")
    )
    return (
        longest.groupBy("streak_days")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.min("user_id").cast("long").alias("example_user"),
        )
        .orderBy("streak_days")
    )


# ---------------------------------------------------------------------------
# events_peak_concurrency: sweep-line peak concurrent sessions per day.
# r12 local-only (LOCALCHECK green both SFs); REGISTERED r13 paid for
# by the topk_per_group retirement (VERDICT r12 item 3 — promote the
# strongest r12 kernels into driver attestation).
# ---------------------------------------------------------------------------

EVENTS_PEAK_CONCURRENCY_ORACLE = """
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
        SELECT MIN(ts) AS s, MAX(ts) + INTERVAL 30 MINUTE AS e
        FROM numbered GROUP BY user_id, session_id
    ),
    deltas AS (
        SELECT s AS t, 1 AS delta FROM sess
        UNION ALL
        SELECT e AS t, -1 AS delta FROM sess
    ),
    run AS (
        SELECT t, delta,
               SUM(delta) OVER (ORDER BY t, delta DESC
                                ROWS UNBOUNDED PRECEDING) AS conc
        FROM deltas
    )
    SELECT CAST(t AS DATE) AS day,
           CAST(MAX(conc) AS BIGINT) AS peak_concurrent,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS sessions_started,
           CAST(SUM(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS sessions_ended
    FROM run GROUP BY 1 ORDER BY day
    """


@query("events_peak_concurrency", oracle=EVENTS_PEAK_CONCURRENCY_ORACLE)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak CONCURRENT sessions per calendar day — the capacity-planning
    statistic (how many users were on at once, at the worst moment) —
    via the classic SWEEP LINE: each 30-min-gap session (the
    session_window_stats semantics: end = last event + gap) emits
    (+1 at start, -1 at end); the running sum of deltas in time order
    IS the live concurrency, and the per-day max of that running sum
    is the peak. Tie rule: at equal timestamps starts count before
    ends (delta DESC — touching sessions are concurrent); within a tie
    run every row moves the sum by the same ±1, so the SET of partial
    sums (hence the max) is tie-order-independent on both engines.

    Scale shape: the naive running sum is a global-ordered window —
    Exchange SinglePartition over the session-delta stream, which
    scales with the data. Here the prefix sum is BLOCK-DECOMPOSED like
    operators/rank.py: deltas quantize into MINUTE blocks (bounded by
    the observation TIME DOMAIN, ~43k/month, not by volume); per-block
    delta sums fold map-side; the carry into each block rides a window
    over the tiny block table; the within-block running sum is a
    window PARTITIONED BY block — parallel across blocks, never a
    single-task funnel. The per-day rollup is calendar-bounded.

    Reference parity: beyond-reference analytics surface; composes the
    session_window operator (§2.9 batch analog) with the prefix-sum
    kernel family (text_length_trim / grouped_rank)."""
    sessions = (
        load_events(spark, sf_dir)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(F.col("w.start").alias("s"), F.col("w.end").alias("e"))
    )
    return peak_concurrency_frame(sessions)


def peak_concurrency_frame(sessions: DataFrame) -> DataFrame:
    """Core of events_peak_concurrency over any (s, e) interval frame
    — factored for the generative brute-force equivalence test
    (tests/test_timeseries.py::
    test_peak_concurrency_matches_bruteforce_on_random_intervals pits
    it against a pure-Python sweep line on random interval sets)."""
    deltas = sessions.select(
        F.col("s").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        sessions.select(F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    based = deltas.withColumn(
        "_blk",
        F.expr("CAST(CAST(t AS TIMESTAMP) AS LONG) DIV 60"),
    )
    blk_sums = based.groupBy("_blk").agg(F.sum("delta").alias("_bsum"))
    w_carry = (
        Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = blk_sums.select(
        "_blk", F.coalesce(F.sum("_bsum").over(w_carry), F.lit(0)).alias("_carry")
    )
    w_within = (
        Window.partitionBy("_blk")
        .orderBy(F.asc("t"), F.desc("delta"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = (
        based.withColumn("_within", F.sum("delta").over(w_within))
        .join(F.broadcast(carry), "_blk")
        .select(
            "t",
            "delta",
            (F.col("_carry") + F.col("_within")).cast("long").alias("conc"),
        )
    )
    return (
        run.groupBy(F.col("t").cast("date").alias("day"))
        .agg(
            F.max("conc").cast("long").alias("peak_concurrent"),
            F.sum((F.col("delta") == 1).cast("long")).cast("long")
            .alias("sessions_started"),
            F.sum((F.col("delta") == -1).cast("long")).cast("long")
            .alias("sessions_ended"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# ts_autocorrelation: exact ACF of the daily revenue series at lags
# 1..7.
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 7

TS_AUTOCORRELATION_ORACLE = f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) // 100 AS x
        FROM events GROUP BY 1
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx
        FROM daily
    ),
    dev AS (SELECT day, s.n * x - s.sx AS dv FROM daily, s),
    den AS (SELECT CAST(SUM(dv * dv) AS BIGINT) AS den FROM dev),
    lags AS (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS lag),
    pairs AS (
        SELECT l.lag,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(a.dv * b.dv) AS BIGINT) AS num
        FROM lags l
        JOIN dev a ON TRUE
        JOIN dev b ON b.day = a.day + CAST(l.lag AS INTEGER)
        GROUP BY l.lag
    )
    SELECT p.lag, p.n_pairs,
           FLOOR(CAST(p.num AS DOUBLE) / NULLIF(d.den, 0)
                 * 1000000 + 0.5) / 1000000 AS acf
    FROM pairs p CROSS JOIN den d
    ORDER BY p.lag
    """


@query("ts_autocorrelation", oracle=TS_AUTOCORRELATION_ORACLE, tier="local")
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AUTOCORRELATION (ACF) of the daily revenue series at
    calendar lags 1..{7}: with the n-scaled deviations
    dv_d = n*x_d - S (integers — no fractional mean ever computed),
    acf(k) = sum(dv_d * dv_(d+k)) / sum(dv_d^2); the n^2 scaling
    cancels in the ratio, so this IS the standard (variance-normalized,
    non-mean-adjusted-denominator) sample ACF — the seasonality probe
    that tells a forecaster which lags matter before fitting anything
    (complements ts_seasonal_dow_profile's fixed weekly grid with a
    data-driven lag scan). Numerator and denominator are exact int64
    sums well inside 2^53 (daily totals pre-truncate to whole dollars
    for headroom), so both engines divide identical exactly-represented
    doubles — IEEE-identical, then ppm-rounded; constant series guard
    via NULLIF.

    Scale shape: one map-side combinable (day) aggregate is the only
    event-volume-sized stage; everything after rides the
    CALENDAR-bounded daily table (n ~ observation days): the 1-row
    stats broadcast, a 7-lag cross join over the tiny dev table, and
    group-sized sums. The day-grain joins are the R6 bounded-grain
    story in join form."""
    daily = (
        load_events(spark, sf_dir)
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.expr(
                "CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))"
                " AS BIGINT) DIV 100"
            ).alias("x")
        )
    )
    s = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
    )
    dev = daily.crossJoin(F.broadcast(s)).select(
        "day", (F.col("n") * F.col("x") - F.col("sx")).alias("dv")
    )
    den = dev.agg(F.sum(F.col("dv") * F.col("dv")).cast("long").alias("den"))
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = dev.select(F.col("day").alias("day_a"), F.col("dv").alias("dv_a"))
    b = dev.select(F.col("day").alias("day_b"), F.col("dv").alias("dv_b"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("day_b") == F.expr("date_add(day_a, lag)"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("dv_a") * F.col("dv_b")).cast("long").alias("num"),
        )
    )
    return (
        pairs.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("long").alias("lag"),
            "n_pairs",
            (
                F.floor(
                    F.col("num").cast("double")
                    / F.expr("NULLIF(den, 0)")
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).cast("double").alias("acf"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# window_positional_values: FIRST/LAST/NTH_VALUE — the positional
# window family.
# ---------------------------------------------------------------------------

WINDOW_POSITIONAL_VALUES_ORACLE = """
    SELECT user_id, event_id,
           FIRST_VALUE(event_type) OVER w AS first_type,
           LAST_VALUE(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING)
               AS last_type,
           NTH_VALUE(event_type, 2) OVER w AS second_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """


@query(
    "window_positional_values",
    oracle=WINDOW_POSITIONAL_VALUES_ORACLE,
    tier="local",
)
def window_positional_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The POSITIONAL window family — FIRST_VALUE / LAST_VALUE /
    NTH_VALUE — completing the window surface next to the offset
    (lag/lead), ranking, frame, and distribution families. The
    LAST_VALUE trap is deliberate and attested: under the default
    running frame LAST_VALUE is just the current row, so the query
    pins the full-frame (UNBOUNDED FOLLOWING) form both engines agree
    on; NTH_VALUE(2) under the running frame is NULL until the
    partition's second row arrives — the null-edge behavior the
    compare hashes. Deterministic total order via the (ts, event_id)
    tiebreak.

    Scale shape: one user-keyed exchange + per-partition sort shared
    by all three functions (one Window node); per-key rows are
    user-activity-bounded (the window_lag_lead precedent)."""
    events = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_full = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        events.select(
            "user_id",
            "event_id",
            F.first("event_type").over(w).alias("first_type"),
            F.last("event_type").over(w_full).alias("last_type"),
            F.nth_value("event_type", 2).over(w).alias("second_type"),
        )
        .orderBy("user_id", "event_id")
    )

"""Semantic pins for the r8 time-series operators on PLANTED events.

Oracle parity (the local-tier compare in tests/test_oracle_parity.py)
proves Spark and DuckDB agree at the fixture SF; these tests prove the
operators mean what they claim on inputs constructed to exercise the
claims: LOCF must carry the LAST observation (not interpolate, not
zero-fill), the spine must be each series' OWN [min, max] range (no
global-calendar bleed), and the multi-resolution rollup must equal the
direct raw->day aggregation measure-for-measure.
"""

from __future__ import annotations

import datetime as dt
import os


def _write_events(spark, rows, d):
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    return d


def _t(h, m=0, day=1):
    return dt.datetime(2024, 3, day, h, m, 0)


def test_gap_fill_locf_carries_last_observation(spark, tmp_path):
    rows = [
        # series A: hours 00, 01, 04 — gaps at 02 and 03
        (1, _t(0), 1, "A", 10.00, None),
        (2, _t(1, 30), 1, "A", 2.50, None),
        (3, _t(1, 45), 1, "A", 0.25, None),
        (4, _t(4), 1, "A", 7.00, None),
        # series B: a single hour — spine must be exactly one row
        (5, _t(9), 1, "B", 3.00, None),
    ]
    from erathia_market_etl_spark.plans.event_windows import timeseries_gap_fill

    out = timeseries_gap_fill(spark, _write_events(spark, rows, str(tmp_path)))
    got = {(r["event_type"], r["hour_start"].hour): r for r in out.collect()}

    # series A spine is exactly 00..04 (5 rows), series B exactly 09
    assert sorted(h for t, h in got if t == "A") == [0, 1, 2, 3, 4]
    assert sorted(h for t, h in got if t == "B") == [9]

    # observed hours: real totals, is_gap False
    assert got[("A", 0)]["filled_value"] == 10.00
    assert got[("A", 1)]["filled_value"] == 2.75  # 2.50 + 0.25, exact cents
    assert got[("A", 1)]["n_events"] == 2
    assert got[("A", 0)]["is_gap"] is False

    # gap hours: n_events 0, is_gap True, value CARRIED from hour 01
    for h in (2, 3):
        r = got[("A", h)]
        assert r["is_gap"] is True and r["n_events"] == 0, r
        assert r["filled_value"] == 2.75, r
    # post-gap observation resumes the real value
    assert got[("A", 4)]["filled_value"] == 7.00
    assert got[("B", 9)]["filled_value"] == 3.00


def test_rollup_day_equals_direct_aggregation(spark, tmp_path):
    # two days x two types, with minute/hour structure that makes the
    # intermediate rollups non-trivial (several minutes per hour,
    # several hours per day)
    rows = []
    eid = 0
    for day in (1, 2):
        for h in (0, 5, 23):
            for m in (0, 7, 59):
                eid += 1
                rows.append((eid, _t(h, m, day), 1, "A", 1.01 * eid, None))
        eid += 1
        rows.append((eid, _t(12, 0, day), 2, "B", 0.10, None))
    from erathia_market_etl_spark.plans.event_windows import (
        rollup_multiresolution,
    )

    d = _write_events(spark, rows, str(tmp_path))
    got = {
        (r["day_start"].day, r["event_type"]): r
        for r in rollup_multiresolution(spark, d).collect()
    }
    assert len(got) == 4
    # direct check of one cell: day 1 / type A = events 1..9
    r = got[(1, "A")]
    assert r["n_events"] == 9
    assert r["total_value"] == round(sum(round(1.01 * i, 2) for i in range(1, 10)), 2)
    assert r["min_value"] == 1.01 and r["max_value"] == 9.09
    assert got[(2, "B")]["n_events"] == 1
    assert got[(2, "B")]["total_value"] == 0.10


def test_incremental_rollup_merge_equals_full_recompute(spark):
    """The mergeable-state algebra: split the fixture event log at an
    arbitrary day cutoff, compute day_rollup_state on each half, merge —
    the merged state AND its presentation must equal the full-log
    recompute EXACTLY (long sums / min / max are a commutative monoid;
    sum_cents is an exact scaled integer, so no float drift either).
    Presentation must also equal rollup_multiresolution (the
    minute->hour->day ladder) — three independent computation paths,
    one answer."""
    from pyspark.sql import functions as F

    from erathia_market_etl_spark.plans.event_windows import (
        day_rollup_state,
        merge_rollup_states,
        present_day_rollup,
        rollup_multiresolution,
    )
    from erathia_market_etl_spark.sources.events import load_events

    sf = "/root/testdata/sf0.001"
    events = load_events(spark, sf)
    cutoff = events.agg(
        F.date_trunc("day", F.min("ts")) + F.expr("INTERVAL 2 DAYS")
    ).first()[0]
    old = events.filter(F.col("ts") < F.lit(cutoff))
    new = events.filter(F.col("ts") >= F.lit(cutoff))
    assert old.count() > 0 and new.count() > 0  # the split is real

    merged = merge_rollup_states(
        day_rollup_state(old), day_rollup_state(new)
    )
    full = day_rollup_state(events)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )
    assert sorted(map(tuple, present_day_rollup(merged).collect())) == sorted(
        map(tuple, rollup_multiresolution(spark, sf).collect())
    )


def test_rolling_zscore_flags_planted_spike(spark, tmp_path):
    """Anomaly semantics on a planted series: 23 quiet hours at $1.00
    and one $100.00 spike — the spike hour must flag with the exact
    population z-score (pinned against a driver-side computation), the
    quiet hours must not flag, and a constant series must produce NULL
    z / False flags everywhere (zero variance). This is the test shape
    that catches denominator algebra bugs the cross-engine oracle
    can't: both engines shared an erroneous extra sqrt(n) factor during
    development and still hash-matched."""
    import math

    from erathia_market_etl_spark.plans.event_windows import (
        timeseries_rolling_zscore,
    )

    rows = [(h, _t(h), 1, "A", 1.00, None) for h in range(23)]
    rows.append((23, _t(23), 1, "A", 100.00, None))
    rows += [(100 + h, _t(h), 1, "B", 5.00, None) for h in range(10)]
    d = _write_events(spark, rows, str(tmp_path))
    got = {
        (r["event_type"], r["hour_start"].hour): r
        for r in timeseries_rolling_zscore(spark, d).collect()
    }

    # exact expected z at the spike hour (population, trailing 24 rows)
    cs = [100] * 23 + [10000]  # cents
    n, s1, s2 = len(cs), sum(cs), sum(c * c for c in cs)
    z_want = (10000 * n - s1) / math.sqrt(n * s2 - s1 * s1)
    spike = got[("A", 23)]
    assert spike["is_anomaly"] is True
    assert spike["zscore"] == math.floor(z_want * 1e6 + 0.5) / 1e6
    assert z_want > 4  # the planted spike is a real outlier

    for h in range(1, 23):  # quiet hours never flag
        assert got[("A", h)]["is_anomaly"] is False, got[("A", h)]
    assert got[("A", 0)]["zscore"] is None  # 1-row window: zero variance
    for h in range(10):  # constant series: NULL z, no flags
        r = got[("B", h)]
        assert r["zscore"] is None and r["is_anomaly"] is False, r


def test_gap_fill_matches_python_reference_on_random_series(spark, tmp_path):
    """Hypothesis property: on random sparse integer-cent series the
    gap-fill must equal a pure-Python LOCF reference — spine bounds,
    carried values, counts and gap flags, every row (the generative
    analog of the planted LOCF pins, per the CC/BPE/pagerank test
    discipline)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from erathia_market_etl_spark.plans.event_windows import (
        timeseries_gap_fill,
    )

    @settings(max_examples=4, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2),    # series
                st.integers(min_value=0, max_value=20),   # hour
                st.integers(min_value=-5000, max_value=5000),  # cents
            ),
            min_size=1,
            max_size=30,
        )
    )
    def run(raw):
        rows = [
            (i, _t(h), 1, f"S{s}", c / 100.0, None)
            for i, (s, h, c) in enumerate(raw)
        ]
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            _write_events(spark, rows, d)
            got = sorted(
                (r["event_type"], r["hour_start"].hour, r["n_events"],
                 r["filled_value"], r["is_gap"])
                for r in timeseries_gap_fill(spark, d).collect()
            )

        # pure-Python reference
        series = {}
        for s, h, c in raw:
            key = f"S{s}"
            n, tot = series.setdefault(key, {}).get(h, (0, 0))
            series[key][h] = (n + 1, tot + c)
        want = []
        for key, hours in series.items():
            carried = None
            for h in range(min(hours), max(hours) + 1):
                if h in hours:
                    n, tot = hours[h]
                    carried = tot
                    want.append((key, h, n, round(tot / 100, 2), False))
                else:
                    want.append((key, h, 0, round(carried / 100, 2), True))
        assert got == sorted(want), (raw, got, sorted(want))

    run()


def test_rolling_zscore_matches_python_reference_on_random_series(spark, tmp_path):
    """Hypothesis property: rolling z-scores equal a pure-Python
    implementation of the same integer-moment arithmetic EXACTLY —
    identical integers through IEEE sqrt/divide give bit-identical
    doubles, so the compare is ==, not approx."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from erathia_market_etl_spark.plans.event_windows import (
        ZSCORE_FLAG,
        ZSCORE_WINDOW,
        timeseries_rolling_zscore,
    )

    @settings(max_examples=4, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=1),
                st.integers(min_value=0, max_value=23),
                st.integers(min_value=-10000, max_value=10000),
            ),
            min_size=1,
            max_size=30,
        )
    )
    def run(raw):
        rows = [
            (i, _t(h), 1, f"S{s}", c / 100.0, None)
            for i, (s, h, c) in enumerate(raw)
        ]
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            _write_events(spark, rows, d)
            got = sorted(
                (r["event_type"], r["hour_start"].hour,
                 r["total_value"], r["zscore"], r["is_anomaly"])
                for r in timeseries_rolling_zscore(spark, d).collect()
            )

        series = {}
        for s, h, c in raw:
            series.setdefault(f"S{s}", {}).setdefault(h, 0)
            series[f"S{s}"][h] += c
        want = []
        for key, hours in series.items():
            cs = [hours[h] for h in sorted(hours)]
            for i, h in enumerate(sorted(hours)):
                win = cs[max(0, i - (ZSCORE_WINDOW - 1)):i + 1]
                n, s1, s2 = len(win), sum(win), sum(x * x for x in win)
                c = cs[i]
                if n * s2 == s1 * s1:
                    z, flag = None, False
                else:
                    zr = (c * n - s1) / math.sqrt(n * s2 - s1 * s1)
                    z = math.floor(zr * 1e6 + 0.5) / 1e6
                    flag = abs(zr) > ZSCORE_FLAG
                want.append((key, h, round(c / 100, 2), z, flag))
        assert got == sorted(want), (raw, got, sorted(want))

    run()


def test_scd2_planted_run_compaction(spark, tmp_path):
    """Hand-checkable SCD2 pin: a planted per-user event sequence with
    known tier runs compacts to exactly the expected intervals —
    intervals tile the timeline (each valid_to == the next
    valid_from), exactly one open (is_current) interval per user,
    adjacent intervals always change tier (compaction is maximal), and
    n_events is conserved."""
    import datetime as dt

    from erathia_market_etl_spark.plans.event_windows import (
        scd2_user_tier_history,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, uid, minute, value):
        return (eid, t0 + dt.timedelta(minutes=minute), uid, "click",
                float(value), "{}")

    rows = [
        # user 1: low low | mid | low low  -> 3 intervals
        ev(1, 1, 0, 1), ev(2, 1, 1, 2), ev(3, 1, 2, 7),
        ev(4, 1, 3, 1), ev(5, 1, 4, 3),
        # user 2: single event -> one open interval
        ev(6, 2, 0, 20),
        # user 3: same-timestamp tie broken by event_id: low(7) then
        # high(8) at the SAME ts -> two intervals, order pinned by id
        ev(7, 3, 0, 1), ev(8, 3, 0, 20),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    p = str(tmp_path / "sf")
    df.write.parquet(p + "/events.parquet")
    out = scd2_user_tier_history(spark, p).collect()

    by_user: dict[int, list] = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)

    u1 = [(r["tier"], r["n_events"], r["is_current"]) for r in by_user[1]]
    assert u1 == [("low", 2, False), ("mid", 1, False), ("low", 2, True)]
    assert [(r["tier"], r["is_current"]) for r in by_user[2]] == [
        ("high", True)
    ]
    assert [(r["tier"], r["is_current"]) for r in by_user[3]] == [
        ("low", False), ("high", True)
    ]

    for uid, ivs in by_user.items():
        assert sum(r["is_current"] for r in ivs) == 1, uid
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"], uid   # tiling
            assert a["tier"] != b["tier"], uid             # maximal runs
        assert ivs[-1]["valid_to"] is None
    assert sum(r["n_events"] for r in out) == len(rows)    # conservation


def test_ohlc_planted_with_timestamp_tie(spark, tmp_path):
    """Hand-checkable candle: open/close pick the first/last tick under
    (ts, event_id) — including a same-timestamp tie where event_id
    decides — and high/low are plain extremes."""
    import datetime as dt

    from erathia_market_etl_spark.plans.event_windows import ohlc_hourly

    t0 = dt.datetime(2024, 2, 1, 9, 0, 0)

    def ev(eid, sec, price):
        return (eid, t0 + dt.timedelta(seconds=sec), 1, "trade",
                float(price), "{}")

    rows = [
        ev(2, 0, 10.00),   # same ts as eid 1 -> eid 1 is the true open
        ev(1, 0, 11.00),
        ev(3, 60, 25.50),  # high
        ev(4, 120, 5.25),  # low
        ev(5, 3599, 20.00),  # close
        ev(6, 3600, 99.0),   # next hour
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    p = str(tmp_path / "sf")
    df.write.parquet(p + "/events.parquet")
    out = {str(r["hour_start"]): r.asDict()
           for r in ohlc_hourly(spark, p).collect()}
    c = out["2024-02-01 09:00:00"]
    assert (c["open_cents"], c["high_cents"], c["low_cents"],
            c["close_cents"], c["n_ticks"]) == (1100, 2550, 525, 2000, 5)
    assert out["2024-02-01 10:00:00"]["open_cents"] == 9900


def test_twap_density_bias_and_exact_weights(spark, tmp_path):
    """The reason TWAP exists: a price level sampled densely must NOT
    dominate. One tick at 1.00 held 23h then two ticks at 2.00 held
    0.5h each -> TWAP 104 cents where the naive mean of ticks is 166.
    Weights are exact: the holding clock runs tick->next-tick and
    last-tick->midnight."""
    import datetime as dt

    from erathia_market_etl_spark.plans.event_windows import twap_daily

    t0 = dt.datetime(2024, 2, 1)
    rows = [
        (1, t0, 1, "trade", 1.00, "{}"),
        (2, t0 + dt.timedelta(hours=23), 1, "trade", 2.00, "{}"),
        (3, t0 + dt.timedelta(hours=23, minutes=30), 1, "trade", 2.00, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    p = str(tmp_path / "sf")
    df.write.parquet(p + "/events.parquet")
    r = twap_daily(spark, p).collect()[0]
    h = 3600 * 1_000_000
    assert r["held_total_us"] == 24 * h       # full day covered
    assert r["cents_us"] == 100 * 23 * h + 200 * h
    assert r["twap_cents"] == (100 * 23 + 200) // 24   # == 104
    assert r["twap_cents"] != (100 + 200 + 200) // 3   # naive mean 166


def test_candle_state_merge_equals_full(spark, tmp_path):
    """The OHLC monoid: candle states built from three arbitrary slices
    (including an hour SPLIT across slices where the true open lives in
    the second slice by timestamp) merge to exactly the state built
    from all ticks at once, and present_candles equals ohlc_hourly."""
    import datetime as dt

    from erathia_market_etl_spark.plans.event_windows import (
        candle_state,
        merge_candle_states,
        ohlc_hourly,
        present_candles,
    )

    t0 = dt.datetime(2024, 3, 1, 9)

    def ev(eid, sec, price, et="trade"):
        return (eid, t0 + dt.timedelta(seconds=sec), 1, et,
                float(price), "{}")

    # slice b holds the EARLIEST tick of hour 9 (sec=0) even though
    # slice a was "ingested" first — the merge must re-decide the open
    a = [ev(10, 100, 20.0), ev(11, 200, 5.0)]
    b = [ev(1, 0, 10.0), ev(12, 3599, 7.5)]
    c = [ev(13, 3600, 50.0), ev(14, 30, 30.0, "quote")]

    schema = ("event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
    fa, fb, fc = (spark.createDataFrame(x, schema) for x in (a, b, c))
    merged = merge_candle_states(
        candle_state(fa), candle_state(fb), candle_state(fc)
    )
    full = candle_state(spark.createDataFrame(a + b + c, schema))
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )

    got = {(r["event_type"], str(r["hour_start"])): tuple(r)[2:]
           for r in present_candles(merged).collect()}
    # hour 9 'trade': open from slice b's sec-0 tick (1000), high 2000,
    # low 500, close from sec-3599 (750), 4 ticks
    assert got[("trade", "2024-03-01 09:00:00")] == (1000, 2000, 500, 750, 4)
    assert got[("quote", "2024-03-01 09:00:00")] == (3000, 3000, 3000, 3000, 1)

    # and present_candles(full state over the whole log) == ohlc_hourly
    p = str(tmp_path / "sf")
    spark.createDataFrame(a + b + c, schema).write.parquet(
        p + "/events.parquet"
    )
    assert sorted(map(tuple, present_candles(full).collect())) == sorted(
        map(tuple, ohlc_hourly(spark, p).collect())
    )


def test_cusum_closed_form_equals_clamped_fold_on_level_shift(spark):
    """cusum_frame computes S+/S- via the prefix-sum/running-extreme
    closed form; this pins it against the textbook sequential clamped
    fold on a planted level shift (10 days at 1.00, 10 at 3.00), and
    checks the shift is actually flagged while the early stable days
    are not."""
    import datetime

    from erathia_market_etl_spark.plans.event_windows import (
        CUSUM_H_MULT,
        cusum_frame,
    )

    cents_series = [100] * 10 + [300] * 10
    rows = [
        (datetime.date(2024, 1, i + 1), c)
        for i, c in enumerate(cents_series)
    ]
    out = cusum_frame(
        spark.createDataFrame(rows, "day date, daily_cents long")
    ).collect()
    assert [r["day"].day for r in out] == list(range(1, 21))

    # reference: the sequential clamped fold
    n = len(cents_series)
    mu = sum(cents_series) // n
    devs = [c - mu for c in cents_series]
    h = CUSUM_H_MULT * sum(abs(d) for d in devs) // n
    s_up = s_dn = 0
    expect = []
    for d in devs:
        s_up = max(0, s_up + d)
        s_dn = max(0, s_dn - d)
        expect.append((s_up, s_dn, s_up > h or s_dn > h))

    got = [(r["cusum_up"], r["cusum_down"], r["flagged"]) for r in out]
    assert got == expect
    # the shift is detected, the first stable days are clean
    assert any(r["flagged"] for r in out)
    assert not any(r["flagged"] for r in out[:4])
    # dev sign structure matches the plant
    assert all(r["dev_cents"] == -100 for r in out[:10])
    assert all(r["dev_cents"] == 100 for r in out[10:])


def test_trend_regression_planted_slopes(spark):
    """Hand-checkable OLS: an exact +100-cents/day line, an exact
    -50-cents/day line, and a single-day group (zero denominator -> 0
    slope by convention)."""
    from erathia_market_etl_spark.plans.event_windows import trend_frame

    rows = (
        [("up", x, 1000 + 100 * x) for x in range(5)]
        + [("down", x, 5000 - 50 * x) for x in range(4)]
        + [("flat1", 3, 777)]
    )
    out = {
        r["event_type"]: (
            r["n_days"], r["slope_num"], r["slope_den"],
            r["slope_centi_cents"],
        )
        for r in trend_frame(
            spark.createDataFrame(rows, "event_type string, x long, y long")
        ).collect()
    }
    # perfect lines: num/den == slope exactly
    n_up, nu, du, su = out["up"]
    assert n_up == 5 and nu == 100 * du and su == 100 * 100
    n_dn, nd, dd, sd = out["down"]
    assert n_dn == 4 and nd == -50 * dd and sd == -50 * 100
    assert out["flat1"] == (1, 0, 0, 0)


def test_seasonal_dow_profile_planted_weekday_pattern(spark):
    """Planted two-week series with a known weekday effect: Mondays
    always 100.00, Tuesdays alternate 50.00/70.00 — the Monday baseline
    is exactly 10000 cents (residual 0 both weeks), the Tuesday
    baseline is the truncated mean 6000 and the residuals split
    -1000/+1000. Pins the Mon=0 dow convention and the truncating DIV."""
    import datetime

    from erathia_market_etl_spark.plans.event_windows import (
        ts_seasonal_dow_profile,
    )

    # 2024-01-01 is a Monday
    rows = [
        (1, datetime.datetime(2024, 1, 1, 9), 1, "a", 100.0),
        (2, datetime.datetime(2024, 1, 8, 9), 1, "a", 100.0),
        (3, datetime.datetime(2024, 1, 2, 9), 1, "a", 50.0),
        (4, datetime.datetime(2024, 1, 9, 9), 1, "a", 70.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/events.parquet")
        out = {
            (str(r["day"])): (r["dow"], r["day_cents"], r["base_cents"],
                              r["residual_cents"])
            for r in ts_seasonal_dow_profile(spark, d).collect()
        }
    assert out["2024-01-01"] == (0, 10000, 10000, 0)
    assert out["2024-01-08"] == (0, 10000, 10000, 0)
    assert out["2024-01-02"] == (1, 5000, 6000, -1000)
    assert out["2024-01-09"] == (1, 7000, 6000, 1000)


def test_ewma_smoothing_planted_fold(spark):
    """Hand-checkable fold: daily values 100, 200, 50 (cents 10000,
    20000, 5000) give S1=10000, S2=(10000+20000)/2=15000,
    S3=(15000+5000)/2=10000 — and truncation is per-step: values 1, 2
    give (100+200) DIV 2 = 150 exactly, while 1, 2, 1 hits the odd
    intermediate ((150+100) DIV 2 = 125, truncated)."""
    import datetime

    from erathia_market_etl_spark.plans.event_windows import (
        ts_ewma_smoothing,
    )

    rows = [
        (1, datetime.datetime(2024, 1, 1, 9), 1, "a", 100.0),
        (2, datetime.datetime(2024, 1, 2, 9), 1, "a", 200.0),
        (3, datetime.datetime(2024, 1, 3, 9), 1, "a", 50.0),
        (4, datetime.datetime(2024, 1, 1, 9), 1, "b", 1.0),
        (5, datetime.datetime(2024, 1, 2, 9), 1, "b", 2.0),
        (6, datetime.datetime(2024, 1, 3, 9), 1, "b", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/events.parquet")
        out = {
            (r["event_type"], str(r["day"])): r["ewma_cents"]
            for r in ts_ewma_smoothing(spark, d).collect()
        }
    assert out[("a", "2024-01-01")] == 10000
    assert out[("a", "2024-01-02")] == 15000
    assert out[("a", "2024-01-03")] == 10000
    assert out[("b", "2024-01-01")] == 100
    assert out[("b", "2024-01-02")] == 150
    assert out[("b", "2024-01-03")] == 125


def test_anomaly_mad_flags_planted_spike(spark):
    """Planted series: type 'a' is perfectly flat except ONE spiked
    Wednesday — with a flat dow baseline and one-day residual spike,
    the spike day must be the ONLY flagged row. Pins that the seasonal
    stage doesn't flag ordinary weekday structure (every Monday is
    high, but consistently so — residual 0) and that the MAD envelope
    flags the genuine outlier."""
    import datetime

    from erathia_market_etl_spark.plans.event_windows import (
        ts_anomaly_mad_flags,
    )

    rows = []
    eid = 0
    # 4 weeks; Mondays always ~500, other days ~100 (plus a per-week
    # +wk drift so residuals are non-degenerate and MAD > 0)
    for wk in range(4):
        for d in range(7):
            day = datetime.datetime(2024, 1, 1 + wk * 7 + d, 9)
            val = (500.0 if d == 0 else 100.0) + wk
            # week 2's Wednesday (d=2) spikes 10x
            if wk == 2 and d == 2:
                val = 1000.0
            eid += 1
            rows.append((eid, day, 1, "a", val))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/events.parquet")
        out = ts_anomaly_mad_flags(spark, d).collect()
    flagged = [str(r["day"]) for r in out if r["is_anomaly"]]
    # the spike itself must flag...
    assert "2024-01-17" in flagged
    # ...and a mean baseline is CONTAMINATED by the spike it absorbs,
    # so its same-weekday siblings may flag too (the honest behavior
    # of a mean seasonal stage) — but nothing off-Wednesday may:
    # Mondays are 5x the other days every single week (pure
    # seasonality, residual ~0) and must never flag
    wednesdays = {"2024-01-03", "2024-01-10", "2024-01-17", "2024-01-24"}
    assert set(flagged) <= wednesdays
    mondays = [
        r for r in out
        if str(r["day"]) in {"2024-01-01", "2024-01-08",
                             "2024-01-15", "2024-01-22"}
    ]
    assert len(mondays) == 4
    assert all(not r["is_anomaly"] for r in mondays)


def test_peak_concurrency_matches_bruteforce_on_random_intervals(spark):
    """peak_concurrency_frame (r12) must equal the pure-Python sweep
    line on random interval sets — including exact start/end ties
    (the delta-DESC rule: starts before ends, touching intervals are
    concurrent) and midnight-crossing sessions whose carry rides into
    the next day's blocks."""
    import random

    from erathia_market_etl_spark.plans.event_windows import (
        peak_concurrency_frame,
    )

    rng = random.Random(1207)
    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    sessions = []
    for _ in range(300):
        start = base + dt.timedelta(minutes=rng.randrange(0, 5 * 1440))
        dur = rng.choice([1, 30, 90, 600, 1440])  # minutes; some cross days
        sessions.append((start, start + dt.timedelta(minutes=dur)))
    # exact-tie cluster: one ends exactly when two start
    t = base + dt.timedelta(minutes=777)
    sessions += [(t - dt.timedelta(minutes=10), t), (t, t + dt.timedelta(minutes=5)),
                 (t, t + dt.timedelta(minutes=9))]

    df = spark.createDataFrame(sessions, "s timestamp, e timestamp")
    got = {r["day"]: (r["peak_concurrent"], r["sessions_started"],
                      r["sessions_ended"])
           for r in peak_concurrency_frame(df).collect()}

    # brute force: global sweep, starts before ends at equal ts
    deltas = [(s, 1) for s, _ in sessions] + [(e, -1) for _, e in sessions]
    deltas.sort(key=lambda x: (x[0], -x[1]))
    conc, want = 0, {}
    for ts, d in deltas:
        conc += d
        day = ts.date()
        peak, st, en = want.get(day, (0, 0, 0))
        want[day] = (max(peak, conc), st + (d == 1), en + (d == -1))
    assert got == want


def test_activity_streaks_match_bruteforce_on_random_days(spark, tmp_path):
    """user_activity_streaks must equal the pure-Python longest-run
    computation on random per-user day sets (duplicate events per day
    must not split or extend a streak)."""
    import random

    from erathia_market_etl_spark.plans.event_windows import (
        user_activity_streaks,
    )

    rng = random.Random(42)
    rows, truth_days = [], {}
    eid = 0
    for uid in range(1, 40):
        days = sorted(rng.sample(range(0, 40), rng.randrange(1, 25)))
        truth_days[uid] = days
        for d in days:
            for _ in range(rng.randrange(1, 3)):  # dup events same day
                eid += 1
                rows.append((eid, dt.datetime(2024, 3, 1) +
                             dt.timedelta(days=d, minutes=eid % 700),
                             uid, "view", 1.0, "{}"))
    d = _write_events(spark, rows, str(tmp_path / "sf"))
    got = {r["streak_days"]: (r["n_users"], r["example_user"])
           for r in user_activity_streaks(spark, d).collect()}

    def longest(days):
        best = run = 1
        for a, b in zip(days, days[1:]):
            run = run + 1 if b == a + 1 else 1
            best = max(best, run)
        return best

    per_user = {u: longest(ds) for u, ds in truth_days.items()}
    want = {}
    for u, L in sorted(per_user.items()):
        n, ex = want.get(L, (0, None))
        want[L] = (n + 1, u if ex is None else min(ex, u))
    assert got == want


def test_autocorrelation_matches_numpy_on_fixture(spark):
    """ts_autocorrelation must equal the numpy-computed sample ACF
    (same non-mean-adjusted-denominator definition, whole-dollar daily
    totals) at every lag, and lag-k pair counts must be n - k."""
    import math

    import numpy as np

    from erathia_market_etl_spark.plans.event_windows import (
        ts_autocorrelation,
    )

    sf = "/root/testdata/sf0.001"
    got = {r["lag"]: (r["n_pairs"], r["acf"])
           for r in ts_autocorrelation(spark, sf).collect()}
    pdf = (
        spark.read.parquet(f"{sf}/events.parquet")
        .selectExpr(
            "CAST(ts AS DATE) AS day",
            "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("day").sum("cents").toPandas()
        .sort_values("day")
    )
    x = (pdf["sum(cents)"] // 100).to_numpy(dtype=np.int64)
    n = len(x)
    dv = n * x - x.sum()
    den = float((dv.astype(object) * dv.astype(object)).sum())
    for k in range(1, 8):
        num = float((dv[:-k].astype(object) * dv[k:].astype(object)).sum())
        want = math.floor(num / den * 1_000_000 + 0.5) / 1_000_000
        assert got[k] == (n - k, want), k

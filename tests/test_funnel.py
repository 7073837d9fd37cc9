"""Ordered-funnel and cohort-retention semantics on planted event
sequences. Cross-engine parity runs in test_oracle_parity's oracle
compare; these pin the SEMANTICS — strict ordering, the conversion
window's boundary behavior, and users who must NOT convert."""

from __future__ import annotations

import datetime as dt

from erathia_market_etl_spark.plans.temporal_queries import (
    FUNNEL_WINDOW_SECONDS,
    funnel_ordered_conversion,
)

T0 = dt.datetime(2024, 1, 1)


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        [
            (i, T0 + dt.timedelta(seconds=s), uid, et, 1.0, "{}")
            for i, (uid, et, s) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    p = str(tmp_path / "sf")
    df.write.parquet(p + "/events.parquet")
    return p


def test_funnel_strict_order_and_window(spark, tmp_path):
    """One user per semantic branch:
    u1 full conversion inside the windows (known deltas);
    u2 purchase BEFORE the first view only -> stops at click;
    u3 click exactly AT t1 (strict >) and again past the window -> view only;
    u4 click exactly at t1 + window (inclusive <=) -> converts stage 2;
    u5 no view at all -> not in the funnel."""
    w = FUNNEL_WINDOW_SECONDS
    rows = [
        # u1: view@0, click@100, purchase@250
        (1, "view", 0), (1, "click", 100), (1, "purchase", 250),
        # u2: purchase@0 (ignored: before view), view@50, click@80
        (2, "purchase", 0), (2, "view", 50), (2, "click", 80),
        # u3: view@0, click@0 (ties t1 - excluded by strict >),
        #     click@w+1 past the window
        (3, "view", 0), (3, "click", 0), (3, "click", w + 1),
        # u4: view@0, click exactly at the inclusive window edge
        (4, "view", 0), (4, "click", w),
        # u5: click/purchase but never a view
        (5, "click", 10), (5, "purchase", 20),
    ]
    out = {
        r["stage"]: (r["users"], r["seconds_to_here"])
        for r in funnel_ordered_conversion(
            spark, _write_events(spark, tmp_path, rows)
        ).collect()
    }
    assert out["view"][0] == 4          # u1..u4 (u5 never enters)
    assert out["click"][0] == 3         # u1, u2, u4 (u3 blocked twice)
    assert out["purchase"][0] == 1      # u1 only (u2's purchase pre-view)
    # mean seconds from funnel entry: click = (100 + 30 + w)/3, purchase = 250
    assert out["click"][1] == (100 + 30 + w) // 3
    assert out["purchase"][1] == 250


def test_cohort_daily_retention_planted(spark, tmp_path):
    """Two cohorts with hand-computed retention cells; multiple events
    by one user on the same day count once (the DISTINCT (user, day)
    dedup); a later cohort's offsets are relative to ITS day."""
    from erathia_market_etl_spark.plans.event_windows import (
        cohort_daily_retention,
    )

    day = 86400
    rows = [
        # cohort 2024-01-01: u1 active days 0,1,2 (day 1 twice); u2 days 0,2
        (1, "view", 0), (1, "click", day), (1, "view", day + 50),
        (1, "view", 2 * day),
        (2, "view", 10), (2, "click", 2 * day + 10),
        # cohort 2024-01-02: u3 active its day 0 only
        (3, "purchase", day + 100),
    ]
    out = [
        (str(r["cohort_day"]), r["day_offset"], r["cohort_size"],
         r["active_users"], r["retention_ppm"])
        for r in cohort_daily_retention(
            spark, _write_events(spark, tmp_path, rows)
        ).collect()
    ]
    assert out == [
        ("2024-01-01", 0, 2, 2, 1000000),
        ("2024-01-01", 1, 2, 1, 500000),
        ("2024-01-01", 2, 2, 2, 1000000),
        ("2024-01-02", 0, 1, 1, 1000000),
    ]


def test_markov_transitions_planted(spark, tmp_path):
    """Hand-checkable transition matrix: u1's a->a->b->a and u2's b->b
    yield known counts; transitions never cross users; ppm rows are
    exact integer divisions and sum to <= 1e6 per from_type."""
    from erathia_market_etl_spark.plans.event_windows import (
        markov_event_transitions,
    )

    rows = [
        (1, "a", 0), (1, "a", 10), (1, "b", 20), (1, "a", 30),
        (2, "b", 0), (2, "b", 10),
    ]
    out = [tuple(r) for r in markov_event_transitions(
        spark, _write_events(spark, tmp_path, rows)
    ).collect()]
    # u1 transitions: a->a, a->b, b->a ; u2: b->b. No cross-user b->?
    # from u1's trailing 'a' to u2's leading 'b'.
    assert out == [
        ("a", "a", 1, 2, 500000),
        ("a", "b", 1, 2, 500000),
        ("b", "a", 1, 2, 500000),
        ("b", "b", 1, 2, 500000),
    ]
    per_from: dict[str, int] = {}
    for f, _t, _n, _tot, ppm in out:
        per_from[f] = per_from.get(f, 0) + ppm
    assert all(v <= 1_000_000 for v in per_from.values())


def test_growth_accounting_planted(spark, tmp_path):
    """Hand-computed growth grid: day 1 all-new; a returning user and a
    fresh user on day 2; WAU accumulates the trailing 7 days; dau =
    new + returning identically."""
    from erathia_market_etl_spark.plans.event_windows import (
        growth_accounting_daily,
    )

    day = 86400
    rows = [
        (1, "view", 0), (2, "view", 10),                  # day 1: u1, u2
        (1, "click", day), (3, "view", day + 5),          # day 2: u1 ret, u3 new
        (3, "view", 9 * day),                             # day 10: u3 ret (WAU window reset)
    ]
    out = {str(r["day"]): r.asDict() for r in growth_accounting_daily(
        spark, _write_events(spark, tmp_path, rows)
    ).collect()}
    d1, d2, d10 = out["2024-01-01"], out["2024-01-02"], out["2024-01-10"]
    assert (d1["dau"], d1["new_users"], d1["returning_users"], d1["wau"]) == (2, 2, 0, 2)
    assert (d2["dau"], d2["new_users"], d2["returning_users"], d2["wau"]) == (2, 1, 1, 3)
    # day 10: only u3 active; days 4-10 window contains only day 10
    assert (d10["dau"], d10["new_users"], d10["returning_users"], d10["wau"]) == (1, 0, 1, 1)
    for r in out.values():
        assert r["dau"] == r["new_users"] + r["returning_users"]
        assert r["stickiness_ppm"] == r["dau"] * 1_000_000 // r["wau"]


def test_path_trigrams_planted(spark, tmp_path):
    """Trigrams never cross users and count overlapping windows: u1's
    a,b,a,b yields (a,b,a) and (b,a,b) once each; u2's c,c,c,c yields
    (c,c,c) twice."""
    from erathia_market_etl_spark.plans.event_windows import (
        path_trigrams_top,
    )

    rows = [
        (1, "a", 0), (1, "b", 1), (1, "a", 2), (1, "b", 3),
        (2, "c", 0), (2, "c", 1), (2, "c", 2), (2, "c", 3),
    ]
    out = {(r["e1"], r["e2"], r["e3"]): r["n"] for r in path_trigrams_top(
        spark, _write_events(spark, tmp_path, rows)
    ).collect()}
    assert out == {("c", "c", "c"): 2, ("a", "b", "a"): 1, ("b", "a", "b"): 1}


def test_scd2_matches_python_reference_generative(spark, tmp_path):
    """Generative equality of the SCD2 compaction against an
    independent pure-Python run-compactor over random event sequences
    (random users, shuffled insertion order, duplicate timestamps with
    id tiebreaks) — the test class that catches shared-algebra bugs
    cross-engine parity can't (the gap-fill precedent)."""
    import datetime as dt

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from erathia_market_etl_spark.plans.event_windows import (
        scd2_user_tier_history,
    )

    t0 = dt.datetime(2024, 1, 1)

    def tier(v):
        return "low" if v < 5 else ("mid" if v < 15 else "high")

    @settings(max_examples=4, deadline=None)
    @given(st.data())
    def run(data):
        n = data.draw(st.integers(2, 24))
        rows = []
        for eid in range(n):
            uid = data.draw(st.integers(1, 3))
            minute = data.draw(st.integers(0, 10))
            value = data.draw(
                st.sampled_from([0.0, 4.9, 5.0, 14.9, 15.0, 30.0])
            )
            rows.append((eid, t0 + dt.timedelta(minutes=minute), uid,
                         "e", value, "{}"))

        # python reference: sort per user by (ts, id), compact runs
        expected = {}
        by_user: dict[int, list] = {}
        for eid, ts, uid, _t, v, _p in rows:
            by_user.setdefault(uid, []).append((ts, eid, tier(v)))
        for uid, seq in by_user.items():
            seq.sort()
            runs = []
            for ts, _eid, t in seq:
                if runs and runs[-1][0] == t:
                    runs[-1][2] += 1
                else:
                    runs.append([t, ts, 1])
            ivs = []
            for i, (t, vf, cnt) in enumerate(runs):
                vt = runs[i + 1][1] if i + 1 < len(runs) else None
                ivs.append((t, vf, vt, vt is None, cnt))
            expected[uid] = ivs

        sub = str(tmp_path / f"g{abs(hash(tuple(rows))) % 10**9}")
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        ).write.parquet(sub + "/events.parquet")
        got: dict[int, list] = {}
        for r in scd2_user_tier_history(spark, sub).collect():
            got.setdefault(r["user_id"], []).append(
                (r["tier"], r["valid_from"], r["valid_to"],
                 r["is_current"], r["n_events"])
            )
        assert got == expected

    run()


def test_funnel_matches_python_reference_generative(spark, tmp_path):
    """Generative equality of the windowed ordered funnel against a
    pure-Python earliest-qualifying walker over random per-user event
    streams (types shuffled, windows straddled)."""
    import datetime as dt

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from erathia_market_etl_spark.plans.temporal_queries import (
        FUNNEL_STAGES,
        FUNNEL_WINDOW_SECONDS,
        funnel_ordered_conversion,
    )

    t0 = dt.datetime(2024, 1, 1)
    w = FUNNEL_WINDOW_SECONDS

    @settings(max_examples=4, deadline=None)
    @given(st.data())
    def run(data):
        n = data.draw(st.integers(3, 28))
        rows = []
        for eid in range(n):
            uid = data.draw(st.integers(1, 4))
            sec = data.draw(st.sampled_from(
                [0, 1, 50, w - 1, w, w + 1, 2 * w, 3 * w + 7]
            ))
            et = data.draw(st.sampled_from(
                list(FUNNEL_STAGES) + ["error"]
            ))
            rows.append((eid, t0 + dt.timedelta(seconds=sec), uid, et,
                         1.0, "{}"))

        # python reference
        by_user: dict[int, list] = {}
        for eid, ts, uid, et, _v, _p in rows:
            by_user.setdefault(uid, []).append((ts, eid, et))
        stats = {s: [0, 0] for s in FUNNEL_STAGES}  # users, sum_seconds
        for uid, seq in by_user.items():
            seq.sort()
            t1 = min((ts for ts, _e, et in seq if et == "view"),
                     default=None)
            if t1 is None:
                continue
            stats["view"][0] += 1
            t2 = min((ts for ts, _e, et in seq
                      if et == "click" and t1 < ts
                      <= t1 + dt.timedelta(seconds=w)), default=None)
            if t2 is None:
                continue
            stats["click"][0] += 1
            stats["click"][1] += int((t2 - t1).total_seconds())
            t3 = min((ts for ts, _e, et in seq
                      if et == "purchase" and t2 < ts
                      <= t2 + dt.timedelta(seconds=w)), default=None)
            if t3 is None:
                continue
            stats["purchase"][0] += 1
            stats["purchase"][1] += int((t3 - t1).total_seconds())

        sub = str(tmp_path / f"f{abs(hash(tuple(rows))) % 10**9}")
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        ).write.parquet(sub + "/events.parquet")
        got = {r["stage"]: (r["users"], r["seconds_to_here"])
               for r in funnel_ordered_conversion(spark, sub).collect()}
        for stage in FUNNEL_STAGES:
            users, total = stats[stage]
            want_sec = 0 if stage == "view" or users == 0 \
                else total // users
            assert got[stage] == (users, want_sec), stage

    run()


def test_time_to_convert_planted_latencies(spark, tmp_path):
    """Planted conversions pin the latency arithmetic end-to-end: each
    purchase matches its LATEST preceding click (not the first), a
    purchase with no prior click is excluded, a same-timestamp click
    converts at latency 0, and the daily P50/P95/max come out of the
    nearest-rank decomposition exactly."""
    import datetime

    from erathia_market_etl_spark.plans.temporal_queries import (
        funnel_time_to_convert,
    )

    def t(m, s=0):
        return datetime.datetime(2024, 1, 1, 10, m, s)

    rows = [
        # user 1: clicks at 10:00 and 10:05; purchase 10:06 -> 60s
        (1, t(0), 1, "click", 0.0),
        (2, t(5), 1, "click", 0.0),
        (3, t(6), 1, "purchase", 9.99),
        # user 2: click and purchase same instant -> 0s
        (4, t(20), 2, "click", 0.0),
        (5, t(20), 2, "purchase", 5.0),
        # user 3: purchase with NO prior click -> excluded
        (6, t(30), 3, "purchase", 1.0),
        # user 4: click 10:40, purchase 10:50 -> 600s
        (7, t(40), 4, "click", 0.0),
        (8, t(50), 4, "purchase", 2.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double",
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = funnel_time_to_convert(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    # three conversions (user 3 excluded); latencies {0, 60, 600}
    assert r["n_conversions"] == 3
    assert r["p50_sec"] == 60    # rank ceil(50*3/100)=2 -> 60
    assert r["p95_sec"] == 600   # rank ceil(95*3/100)=3 -> 600
    assert r["max_sec"] == 600


def test_nearest_purchase_planted_directions_ties_and_bounds(spark, tmp_path):
    """asof_nearest_purchase semantic pin on planted users:

      u1: click at t=100, purchases at t=40 (back 60s) and t=130
          (fwd 30s) -> FORWARD wins (30 < 60), dt=+30.
      u2: click at t=100, purchases at t=80 and t=120 (both 20s)
          -> TIE goes BACKWARD, dt=-20.
      u3: click at t=100, only purchase 8 days away -> out of the
          7-day bound, left-outer NULL match.
      u4: purchase exactly at the click timestamp -> backward side,
          dt=0 (the >=-semantics inherited from asof_join)."""
    from erathia_market_etl_spark.plans.temporal_queries import (
        asof_nearest_purchase,
    )

    rows = [
        (1, "click", 100), (1, "purchase", 40), (1, "purchase", 130),
        (2, "click", 100), (2, "purchase", 80), (2, "purchase", 120),
        (3, "click", 100), (3, "purchase", 100 + 8 * 86400),
        (4, "click", 100), (4, "purchase", 100),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r["user_id"]: (r["event_id_matched"], r["dt_seconds"])
        for r in asof_nearest_purchase(spark, sf).collect()
    }
    # event ids are enumeration order in _write_events
    assert got[1] == (2, 30)        # forward wins
    assert got[2] == (4, -20)       # tie -> backward
    assert got[3] == (None, None)   # out of bound
    assert got[4] == (9, 0)         # same-instant -> backward dt=0

"""Batch sessionization (operators/sessionize.py)."""

from __future__ import annotations

import datetime as dt

from gofast_spark.operators import session_stats, sessionize


def _t(minute):
    return dt.datetime(2024, 1, 1, minute // 60, minute % 60)


def test_sessionize_gap_splits(spark):
    rows = [
        (1, _t(0)), (1, _t(10)), (1, _t(50)), (1, _t(55)),  # 2 sessions
        (2, _t(5)),                                          # 1 session
    ]
    df = spark.createDataFrame(rows, "user bigint, ts timestamp")
    got = {
        (r["user"], r["ts"]): r["session_id"]
        for r in sessionize(df, "user", "ts", gap="30 minutes").collect()
    }
    assert got == {
        (1, _t(0)): 1, (1, _t(10)): 1,
        (1, _t(50)): 2, (1, _t(55)): 2,
        (2, _t(5)): 1,
    }


def test_session_stats(spark):
    rows = [(1, _t(0)), (1, _t(10)), (1, _t(50))]
    df = spark.createDataFrame(rows, "user bigint, ts timestamp")
    stats = {
        r["session_id"]: (r["n_events"], r["duration_sec"])
        for r in session_stats(df, "user", "ts", gap="30 minutes").collect()
    }
    assert stats == {1: (2, 600), 2: (1, 0)}


def test_boundary_gap_exactly_at_timeout_continues(spark):
    # gap strictly GREATER than timeout starts a new session
    rows = [(1, _t(0)), (1, _t(30))]
    df = spark.createDataFrame(rows, "user bigint, ts timestamp")
    got = [
        r["session_id"]
        for r in sessionize(df, "user", "ts", gap="30 minutes")
        .orderBy("ts")
        .collect()
    ]
    assert got == [1, 1]


def test_funnel_sequential_semantics(spark):
    from datetime import datetime

    from gofast_spark.operators.funnel import funnel

    T = datetime
    rows = [
        # u1 completes in order
        (1, T(2024, 1, 1, 10), "view"),
        (1, T(2024, 1, 1, 11), "click"),
        (1, T(2024, 1, 1, 12), "purchase"),
        # u2 clicks BEFORE viewing -> click doesn't count until after view
        (2, T(2024, 1, 1, 9), "click"),
        (2, T(2024, 1, 1, 10), "view"),
        (2, T(2024, 1, 1, 12), "purchase"),  # purchase without valid click
        # u3 views only
        (3, T(2024, 1, 1, 8), "view"),
        # u4 same-timestamp tie: view and click at the same instant count
        (4, T(2024, 1, 1, 7), "view"),
        (4, T(2024, 1, 1, 7), "click"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {r["step"]: r for r in funnel(
        df, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    ).collect()}
    assert out["view"]["n_users"] == 4
    assert out["click"]["n_users"] == 2       # u1 and u4
    assert out["purchase"]["n_users"] == 1    # only u1
    assert abs(out["click"]["conv_from_prev"] - 0.5) < 1e-12
    assert abs(out["purchase"]["conv_from_first"] - 0.25) < 1e-12


def test_retention_cohorts_shape(spark):
    from datetime import datetime

    from gofast_spark.operators.funnel import retention_cohorts

    T = datetime
    rows = [
        (1, T(2024, 1, 1), "signup"), (1, T(2024, 1, 3), "click"),
        (1, T(2024, 1, 10), "click"),      # week 1 activity
        (2, T(2024, 1, 2), "signup"),      # same cohort, no return
        (3, T(2024, 1, 20), "signup"),     # later cohort
        (3, T(2024, 2, 20), "click"),      # offset 4
        (9, T(2024, 1, 1), "click"),       # never signed up -> excluded
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = retention_cohorts(
        df, "user_id", "ts", cohort_type="signup", type_col="event_type"
    ).collect()
    m = {(r["cohort"], r["offset"]): r for r in out}
    cohorts = {r["cohort"] for r in out}
    assert len(cohorts) == 2
    c0 = min(cohorts)
    assert m[(c0, 0)]["n_active"] == 2 and m[(c0, 0)]["cohort_size"] == 2
    assert m[(c0, 1)]["n_active"] == 1
    assert abs(m[(c0, 1)]["retention"] - 0.5) < 1e-12
    # user 9 (no signup) contributes nowhere
    assert all(r["n_active"] <= r["cohort_size"] for r in out)


def test_rfm_segments_scores(spark):
    from datetime import datetime

    from gofast_spark.operators.funnel import rfm_segments

    T = datetime
    # 5 users with strictly increasing frequency/monetary and
    # decreasing recency -> user 5 should be the 555 segment
    rows = []
    for u in range(1, 6):
        for k in range(u):
            rows.append((u, T(2024, 1, u * 2), float(10 * u)))
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    out = {r["user"]: r for r in rfm_segments(
        df, "user_id", "ts", "value", ref_date="2024-02-01"
    ).collect()}
    assert out[5]["rfm"] == "555"
    assert out[1]["rfm"] == "111"
    for u in range(1, 6):
        r = out[u]
        assert 1 <= r["r_score"] <= 5
        assert r["frequency"] == float(u)


def test_funnel_latencies_values(spark):
    from datetime import datetime

    from gofast_spark.operators.funnel import funnel_latencies

    T = datetime
    rows = [
        (1, T(2024, 1, 1, 10, 0), "view"),
        (1, T(2024, 1, 1, 10, 10), "click"),      # 600 s
        (2, T(2024, 1, 1, 9, 0), "view"),
        (2, T(2024, 1, 1, 9, 30), "click"),       # 1800 s
        (2, T(2024, 1, 1, 10, 0), "purchase"),    # 1800 s after click
        (3, T(2024, 1, 1, 8, 0), "click"),        # click before view: no view
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {r["transition"]: r for r in funnel_latencies(
        df, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    ).collect()}
    vc = out["view->click"]
    assert vc["n_users"] == 2
    assert abs(vc["avg_latency_sec"] - 1200.0) < 1e-9
    assert abs(vc["median_latency_sec"] - 1200.0) < 1e-9
    cp = out["click->purchase"]
    assert cp["n_users"] == 1 and abs(cp["avg_latency_sec"] - 1800.0) < 1e-9

"""lag/lead, rolling, sessionize, forward_fill golden tests."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from feathr_online_spark.operators.windows import forward_fill, lag_lead, rolling, sessionize


def ts(m):
    return datetime(2024, 1, 1, 0, m)


@pytest.fixture(scope="module")
def series(spark):
    return spark.createDataFrame(
        [
            (1, ts(0), 10.0),
            (1, ts(1), None),
            (1, ts(2), 30.0),
            (1, ts(40), 40.0),   # > 30min gap → new session
            (2, ts(5), 5.0),
        ],
        "entity long, event_time timestamp, value double",
    )


def test_lag_lead(series):
    out = lag_lead(series, {"prev": ("value", -1), "next": ("value", 1)})
    got = {(r.entity, r.event_time.minute): (r.prev, r.next) for r in out.collect()}
    assert got[(1, 0)] == (None, None)       # first row: no lag; lead is the null value
    assert got[(1, 2)] == (None, 40.0)
    assert got[(2, 5)] == (None, None)


def test_rolling_rows(series):
    out = rolling(series, {"s": ("value", "sum"), "c": ("value", "count")}, rows=2)
    got = {(r.entity, r.event_time.minute): (r.s, r.c) for r in out.collect()}
    assert got[(1, 2)] == (30.0, 1)   # window = [null, 30]
    assert got[(1, 40)] == (70.0, 2)  # window = [30, 40]


def test_rolling_range_leakage_safe(series):
    # 120s lookback, excluding current row
    out = rolling(series, {"s": ("value", "sum")}, range_seconds=120, include_current=False)
    got = {(r.entity, r.event_time.minute): r.s for r in out.collect()}
    assert got[(1, 0)] is None          # nothing before
    assert got[(1, 2)] == 10.0          # only t=0 (t=1 is null)
    assert got[(1, 40)] is None         # nothing within 2 min before


def test_sessionize(series):
    out = sessionize(series, gap_seconds=1800)
    got = {(r.entity, r.event_time.minute): r.session_id for r in out.collect()}
    assert got[(1, 0)] == 0 and got[(1, 1)] == 0 and got[(1, 2)] == 0
    assert got[(1, 40)] == 1            # 38-minute gap > 30min
    assert got[(2, 5)] == 0


def test_forward_fill(series):
    out = forward_fill(series, ["value"])
    got = {(r.entity, r.event_time.minute): r.value for r in out.collect()}
    assert got[(1, 1)] == 10.0          # null filled from t=0
    assert got[(1, 2)] == 30.0          # real value untouched


def test_sessionize_subsecond_boundaries(spark):
    """Gap math must be exact at microsecond resolution: a 1800.5 s gap is a
    boundary, a 1799.7 s gap is not.  Floored-second arithmetic calls both
    1800/1799 and flips the first one."""
    from datetime import timedelta

    t0 = datetime(2024, 1, 1, 0, 0, 0, 400000)
    rows = [
        (1, t0),
        (1, t0 + timedelta(seconds=1800.5)),    # > gap → new session
        (1, t0 + timedelta(seconds=1800.5 + 1799.7)),  # ≤ gap → same session
        (1, t0 + timedelta(seconds=1800.5 + 1799.7 + 1800.000001)),  # 1 µs over → new
    ]
    df = spark.createDataFrame(rows, "entity long, event_time timestamp")
    out = sessionize(df, gap_seconds=1800)
    got = [r.session_id for r in out.orderBy("event_time").collect()]
    assert got == [0, 1, 1, 2]


def test_rolling_range_subsecond_boundaries(spark):
    """Exclusive trailing range frame at microsecond resolution: a row
    exactly range_seconds before is IN the frame, one 0.2 s earlier is OUT,
    and a row in the same second as the current row but earlier is IN
    (floored-second math drops it)."""
    from datetime import timedelta

    t = datetime(2024, 1, 1, 1, 0, 0, 500000)
    rows = [
        (1, t - timedelta(seconds=60.2), 1.0),   # out: beyond 60 s
        (1, t - timedelta(seconds=60.0), 2.0),   # in: exactly 60 s back
        (1, t - timedelta(seconds=0.3), 4.0),    # in: same second as t
        (1, t, 8.0),                              # current row: excluded
    ]
    df = spark.createDataFrame(rows, "entity long, event_time timestamp, value double")
    out = rolling(df, {"s": ("value", "sum")}, range_seconds=60, include_current=False)
    got = {r.event_time: r.s for r in out.collect()}
    assert got[t] == 6.0  # 2.0 + 4.0


def test_windows_share_one_shuffle(series):
    """sessionize uses two windows over the same partitioning+sort — the
    physical plan must contain exactly one Exchange for them."""
    out = sessionize(series, gap_seconds=1800)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_sessionize_gap_of_an_hour(spark):
    """Gaps above 2147 s must not wrap in 32-bit arithmetic: with a 3600 s
    gap, 40- and 60-minute steps stay in one session and a 70-minute step
    starts the next (a wrapped, negative gap made every row a session)."""
    df = spark.createDataFrame(
        [(1, ts(0)), (1, ts(40)), (1, datetime(2024, 1, 1, 1, 40)),
         (1, datetime(2024, 1, 1, 2, 50))],
        "entity long, event_time timestamp",
    )
    got = sorted((r.event_time, r.session_id) for r in sessionize(df, 3600).collect())
    assert [s for _, s in got] == [0, 0, 0, 1]

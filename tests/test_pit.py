"""pit_enrich (hot/cold split composite) must equal the all-plain pipeline."""

import re
from datetime import datetime, timedelta

import numpy as np
import pytest

from feathr_online_spark.operators.asof import asof_join
from feathr_online_spark.operators.pit import _hot_keys, hot_entities, pit_enrich
from feathr_online_spark.operators.skew import pit_fused_bucketed
from feathr_online_spark.operators.windows import forward_fill, rolling, sessionize
from tests.conftest import rows

BASE = datetime(2024, 1, 1)
BUCKET = 4 * 3600
ROLL = {"name": "hist_n", "col": "eid", "fn": "count", "rows": 4}
EV_SCHEMA = "entity long, event_time timestamp, eid long, f_scalar double"
FT_SCHEMA = "entity long, feature_time timestamp, fv double"


def _inputs(spark, tweak=None):
    """Entity 0 holds about half of 2,000 events over two days (hot at a
    threshold of 300); entities 1-19 share the rest.  Base events sit on
    even seconds, so timestamps are unique per entity; rows a tweak adds
    use odd seconds.  ``f_scalar`` (event) and ``fv`` (feature payload) are
    null about a fifth of the time, so both forward fills have work."""
    rng = np.random.default_rng(21)
    n = 2000
    ents = np.where(rng.random(n) < 0.5, 0, rng.integers(1, 20, n))
    secs = 2 * rng.choice(24 * 3600, size=n, replace=False)
    val = lambda: None if rng.random() < 0.2 else float(np.round(rng.random(), 3))
    ev = [(int(e), BASE + timedelta(seconds=int(s)), i, val())
          for i, (e, s) in enumerate(zip(ents, secs))]
    ft = [(int(rng.integers(0, 20)), BASE + timedelta(seconds=int(s)), val())
          for s in rng.choice(2 * 24 * 3600, size=800, replace=False)]
    hole = lambda r: r[0] == 0 and r[1] is not None and 20 <= (r[1] - BASE).total_seconds() / 3600 < 24
    if tweak == "sparse":
        # an interior bucket of entity 0 keeps 2 events < rows
        kept = [r for r in ev if hole(r)][:2]
        ev = [r for r in ev if not hole(r)] + kept
    elif tweak == "feature_gap":
        # entity 0's event buckets 4 and 6 are separated by a features-only one
        ev = [r for r in ev if not hole(r)]
        ft = [r for r in ft if not hole(r)] + [
            (0, BASE + timedelta(hours=21, seconds=2 * k + 1), float(k)) for k in range(3)]
    elif tweak == "nulls":
        # a hot null entity, null timestamps in hot groups, and feature rows
        # with a null entity or a null timestamp
        ev += [(None, BASE + timedelta(seconds=int(2 * s + 1)), 10_000 + k, val())
               for k, s in enumerate(rng.choice(24 * 3600, size=400, replace=False))]
        ev += [(0, None, 20_000, 0.5), (None, None, 20_001, 0.25)]
        ft += [(None, BASE + timedelta(seconds=2 * k + 1), float(k)) for k in range(0, 86400, 3600)]
        ft += [(0, None, 99.0)]
    events = spark.createDataFrame(ev, EV_SCHEMA)
    features = spark.createDataFrame(ft, FT_SCHEMA)
    return events, features


def _plain(events, features, rolling_spec, session_gap, ffill_cols):
    out = asof_join(events, features)
    if rolling_spec:
        out = rolling(out, {"hist_n": ("eid", "count")}, rows=4, include_current=False)
    if session_gap:
        out = sessionize(out, session_gap)
    if ffill_cols:
        out = forward_fill(out, ffill_cols)
    return out


CASES = {
    # rolling + sessions + forward fill of an event and a payload column
    "job_shape": {},
    "sparse_interior_bucket": {"tweak": "sparse"},
    "features_only_bucket": {"tweak": "feature_gap"},
    "null_entity_and_ts": {"tweak": "nulls"},
    "no_rolling": {"rolling_spec": None},
    "no_sessions": {"session_gap": None},
    "no_ffill": {"ffill_cols": None},
    "no_hot_entity": {"hot_threshold": 10 ** 6},
}


@pytest.mark.parametrize("case", list(CASES))
def test_pit_enrich_equals_plain(spark, case):
    kw = {"rolling_spec": ROLL, "session_gap": 1800, "ffill_cols": ["f_scalar", "fv"],
          "hot_threshold": 300, **CASES[case]}
    tweak = kw.pop("tweak", None)
    events, features = _inputs(spark, tweak)
    composite = pit_enrich(events, features, bucket_seconds=BUCKET, **kw)
    plain = _plain(events, features, kw["rolling_spec"], kw["session_gap"], kw["ffill_cols"])

    assert sorted(composite.columns) == sorted(plain.columns)
    cols = sorted(plain.columns)
    assert rows(composite.select(cols)) == rows(plain.select(cols))

    rows_n = kw["rolling_spec"]["rows"] if kw["rolling_spec"] else None
    hot = _hot_keys(events, "entity", "event_time", kw["hot_threshold"], BUCKET, rows_n)
    if case == "no_hot_entity":
        assert hot == []
        assert "__bkt" not in composite._jdf.queryExecution().optimizedPlan().toString()
    elif tweak == "sparse":
        # routed to the plain path: unrouted, the fused rows frame truncates
        assert 0 not in hot
        one = events.filter("entity = 0")
        fused = pit_fused_bucketed(one, features.filter("entity = 0"), ffill_cols=kw["ffill_cols"],
                                   rolling_spec=kw["rolling_spec"], session_gap=1800,
                                   bucket_seconds=BUCKET)
        assert rows(fused.select(cols)) != rows(plain.filter("entity = 0").select(cols))
    else:
        assert 0 in hot
        if tweak == "nulls":
            assert None in hot


def test_pit_enrich_plan_size(spark):
    """The hot branch is ONE fused bucketed pass.  Chaining the standalone
    bucketed operators again planned hundreds of exchanges here."""
    events, features = _inputs(spark)
    out = pit_enrich(events, features, rolling_spec=ROLL, session_gap=1800,
                     ffill_cols=["f_scalar", "fv"], hot_threshold=300, bucket_seconds=BUCKET)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__bkt" in plan                       # the hot branch is planned
    assert len(re.findall(r"Exchange", plan)) <= 12


def test_pit_enrich_session_gap_of_an_hour(spark):
    """A 3600 s gap, on the hot (bucketed) and the cold (plain) path: steps
    of up to 60 minutes continue a session, 70 minutes starts one."""
    t = lambda h, m: BASE + timedelta(hours=h, minutes=m)
    ev = [(1, t(h, m), i) for i, (h, m) in enumerate([(0, 10), (0, 50), (1, 40), (2, 50), (3, 30)])]
    ev += [(2, t(h, m), 10 + i) for i, (h, m) in enumerate([(0, 10), (1, 10), (2, 20)])]
    events = spark.createDataFrame(ev, "entity long, event_time timestamp, eid long")
    features = spark.createDataFrame([(1, t(0, 0), 1.0), (2, t(0, 0), 2.0)],
                                     "entity long, feature_time timestamp, fv double")
    out = pit_enrich(events, features, session_gap=3600, hot_threshold=4, bucket_seconds=3600)
    got = {r.eid: r.session_id for r in out.collect()}
    assert [got[i] for i in range(5)] == [0, 0, 0, 1, 1]      # entity 1: hot
    assert [got[10 + i] for i in range(3)] == [0, 0, 1]       # entity 2: cold
    assert _hot_keys(events, "entity", "event_time", 4, 3600, None) == [1]


def test_hot_entities_detection(spark):
    df = spark.createDataFrame([(0,)] * 500 + [(1,)] * 10, "entity long")
    hot = [r.entity for r in hot_entities(df, threshold=100).collect()]
    assert hot == [0]

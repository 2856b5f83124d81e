"""Windowed sums as prefix differences: the integer sums of the window family
(``sum[unbounded, t] - sum[unbounded, t - w - 1µs]``) against an independent
numpy oracle of the both-closed ``[t - w, t]`` frame, and the plan shape that
makes them O(1) per row."""

from __future__ import annotations

import re
from datetime import datetime, timedelta

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from retailfeaturestore_spark.operators import window_features
from retailfeaturestore_spark.operators.window_features import (
    build_customer_features,
    user_activity_features,
)

BRONZE_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.IntegerType()),
        T.StructField("invoice_date", T.TimestampType()),
        T.StructField("stock_code", T.StringType()),
        T.StructField("is_cancel", T.BooleanType()),
        T.StructField("line_amount", T.DoubleType()),
    ]
)
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)
BASE = datetime(2024, 1, 1)
DAY_US = 86_400 * 1_000_000
WINDOWS = {"1d": 1, "3d": 3, "7d": 7}

# Event times on a whole-day grid shifted by -1, 0 or +1 µs: pairs of rows
# land exactly on t - w (inside the window), on t - w - 1µs (outside) and on
# the same instant (ties), for every window in WINDOWS.
instant = st.tuples(st.integers(0, 10), st.sampled_from([-1, 0, 1])).map(
    lambda kd: kd[0] * DAY_US + kd[1] + DAY_US
)
line = st.tuples(
    st.integers(0, 2),            # customer; customer 2 only ever cancels
    instant,
    st.booleans(),                # is_cancel (customers 0 and 1)
    st.integers(0, 1_000_000),    # amount in cents
)


def _us(t: datetime) -> int:
    return (t - BASE) // timedelta(microseconds=1)


def _window_masks(cid: np.ndarray, us: np.ndarray, days: int):
    """mask[i] = rows of row i's entity inside [t_i - days, t_i]."""
    w = days * DAY_US
    for i in range(len(us)):
        yield i, (cid == cid[i]) & (us >= us[i] - w) & (us <= us[i])


def _family_oracle(rows):
    cid = np.array([r[0] for r in rows])
    us = np.array([_us(r[1]) for r in rows], dtype=np.int64)
    cancel = np.array([r[3] for r in rows])
    cents4 = np.array([round(r[4] * 10_000) for r in rows], dtype=np.int64)
    out = {}
    for s, days in WINDOWS.items():
        for i, m in _window_masks(cid, us, days):
            txn = int((m & ~cancel).sum())
            cancels = int((m & cancel).sum())
            spend = int(cents4[m & ~cancel].sum()) / 10_000.0
            rate = cancels / (cancels + txn) if cancels + txn > 0 else 0.0
            out.setdefault((cid[i], rows[i][1]), {}).update(
                {
                    f"txn_count_{s}": float(txn),
                    f"spend_{s}": spend,
                    f"avg_basket_value_{s}": spend / (txn if txn > 0 else 1.0),
                    f"cancel_rate_{s}": min(max(rate, 0.0), 1.0),
                }
            )
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(line, min_size=1, max_size=30))
def test_family_sums_match_numpy_oracle(spark, lines):
    rows = [
        (c, BASE + timedelta(microseconds=us), "A", c == 2 or cancel, cents / 100.0)
        for c, us, cancel, cents in lines
    ]
    got = build_customer_features(
        spark.createDataFrame(rows, BRONZE_SCHEMA), windows=WINDOWS, carry_cols=()
    ).collect()
    want = _family_oracle(rows)
    assert len(got) == len(rows)
    for r in got:
        exp = want[(r.customer_id, r.invoice_date)]
        assert {k: r[k] for k in exp} == exp, (r.customer_id, r.invoice_date)


event = st.tuples(
    st.integers(0, 2),
    instant,
    st.sampled_from(["view", "error", None]),
    st.one_of(st.none(), st.integers(-10**6, 10**6)),   # value in 1e-6 units
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(event, min_size=1, max_size=30))
def test_user_activity_sums_match_numpy_oracle(spark, monkeypatch, events):
    """Counts, the NULL-aware value sum (a window of NULL values sums to
    NULL, as a bounded SUM), the distinct non-NULL event types and the
    error rate over NULL event types."""
    rows = [
        (u, BASE + timedelta(microseconds=us), et, None if v is None else v / 1e6)
        for u, us, et, v in events
    ]
    monkeypatch.setattr(window_features, "USER_ACTIVITY_WINDOWS", WINDOWS)
    got = user_activity_features(spark.createDataFrame(rows, EVENTS_SCHEMA)).collect()
    uid = np.array([r[0] for r in rows])
    us = np.array([_us(r[1]) for r in rows], dtype=np.int64)
    err = np.array([r[2] == "error" for r in rows])
    has_v = np.array([r[3] is not None for r in rows])
    vals = np.array([0 if v is None else v for *_, v in events], dtype=np.int64)
    want = {}
    for s, days in WINDOWS.items():
        for i, m in _window_masks(uid, us, days):
            n = int(m.sum())
            vs = int(vals[m].sum()) / 1e6 if (m & has_v).any() else None
            want.setdefault((uid[i], rows[i][1]), {}).update(
                {
                    f"event_count_{s}": n,
                    f"value_sum_{s}": vs,
                    f"unique_types_{s}": len({rows[j][2] for j in np.flatnonzero(m)} - {None}),
                    f"error_rate_{s}": min(max(int((m & err).sum()) / n, 0.0), 1.0),
                }
            )
    assert len(got) == len(rows)
    for r in got:
        exp = want[(r.user_id, r.ts)]
        assert {k: r[k] for k in exp} == exp, (r.user_id, r.ts)


def _plan(df) -> str:
    """The physical plan, every window expression printed (no truncation)."""
    conf, key = df.sparkSession.conf, "spark.sql.debug.maxToStringFields"
    old = conf.get(key)
    conf.set(key, "10000")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        conf.set(key, old)


def _sliding_functions(plan: str) -> list[str]:
    """The function of every window expression framed ``RANGE BETWEEN -w
    AND CURRENT ROW`` (a bounded, sliding range frame)."""
    out = []
    for m in re.finditer(r" windowspecdefinition\(", plan):
        i, depth = m.start() - 1, 0  # walk back over the function's (...)
        while True:
            depth += {")": 1, "(": -1}.get(plan[i], 0)
            if depth == 0:
                break
            i -= 1
        frame = plan[m.end() : plan.index("))", m.end())]
        if re.search(r"RangeFrame, -\d+, currentrow", frame):
            out.append(re.search(r"(\w+)$", plan[:i]).group(1))
    return out


def test_family_is_one_exchange_one_window_and_no_sliding_integer_sum(spark, monkeypatch):
    """The prefix-difference frames share the family's (entity, ts) spec:
    one hash exchange, and one WindowExec for the family (the W3 distinct
    count adds its lag and delta passes).  No SUM runs over a sliding
    ``[-w, current row]`` range frame."""
    rows = [(1, BASE, "A", False, 1.5), (1, BASE + timedelta(days=2), "B", True, 2.0)]
    df = spark.createDataFrame(rows, BRONZE_SCHEMA)
    plan = _plan(build_customer_features(df, windows=WINDOWS, carry_cols=()))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert len(re.findall(r"\bWindow \[", plan)) == 3, plan
    assert _sliding_functions(plan) == [], plan
    assert "RangeFrame, unboundedpreceding$(), -86400000001" in plan
    events = spark.createDataFrame([(1, BASE, "view", 1.0)], EVENTS_SCHEMA)
    monkeypatch.setattr(window_features, "USER_ACTIVITY_WINDOWS", WINDOWS)
    plan = _plan(user_activity_features(events))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan
    assert set(_sliding_functions(plan)) == {"collect_set"}, plan


def test_family_exchange_spreads_an_input_already_at_default_parallelism(spark):
    """The family's entity exchange is a repartition at defaultParallelism,
    which AQE does not coalesce, whatever the input's own partition count:
    an input already split defaultParallelism ways is spread by entity
    too, instead of leaving a size-sized exchange that AQE collapses to one
    task."""
    par = spark.sparkContext.defaultParallelism
    rows = [(c, BASE + timedelta(days=c % 5), "A", c % 3 == 0, 1.0) for c in range(40)]
    df = spark.createDataFrame(rows, BRONZE_SCHEMA).repartition(par)
    assert df.rdd.getNumPartitions() == par
    plan = _plan(build_customer_features(df, windows=WINDOWS, carry_cols=()))
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)#\d+, (\d+)\), (\w+)", plan)
    assert exchanges == [("customer_id", str(par), "REPARTITION_BY_NUM")], plan

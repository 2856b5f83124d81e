"""Property-based differential test: the window feature engine vs an
independent brute-force O(n^2) reimplementation on random event histories.

Complements the DuckDB oracle (which shares SQL range-frame semantics) with
a from-first-principles check of the frame definition: [t - w, t], both
boundaries inclusive, all equal-timestamp rows sharing one frame.
"""

from __future__ import annotations

import pytest

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import types as T

from retailfeaturestore_spark.operators.window_features import build_customer_features

BRONZE_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.IntegerType()),
        T.StructField("invoice_date", T.TimestampType()),
        T.StructField("stock_code", T.StringType()),
        T.StructField("is_cancel", T.BooleanType()),
        T.StructField("line_amount", T.DoubleType()),
    ]
)

BASE = datetime(2024, 1, 1)

event = st.tuples(
    st.integers(0, 2),                        # customer
    st.integers(0, 20 * 24 * 3600),           # offset seconds within 20 days
    st.sampled_from(["A", "B", "C"]),         # sku
    st.booleans(),                            # is_cancel
    st.integers(0, 10_000),                   # cents (exact in double)
)


def brute_force(rows, w_days):
    """Independent recomputation with explicit set/loop semantics."""
    out = []
    w = timedelta(days=w_days)
    for cid, t, *_ in rows:
        frame = [r for r in rows if r[0] == cid and t - w <= r[1] <= t]
        txn = sum(1 for r in frame if not r[3])
        spend = sum(r[4] for r in frame if not r[3])
        cancels = sum(1 for r in frame if r[3])
        uniq = len({r[2] for r in frame})
        rate = min(max(cancels / (cancels + txn if cancels + txn > 0 else 1), 0.0), 1.0)
        first = min(r[1] for r in rows if r[0] == cid)
        tenure = int((t - first).total_seconds() // 86400)
        out.append(
            (cid, t, float(txn), round(spend, 4), float(uniq), round(rate, 6), tenure)
        )
    return sorted(out)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(event, min_size=1, max_size=25))
@pytest.mark.slow  # driver verify-window fit (r14): see pyproject addopts
def test_window_family_matches_brute_force(spark, events):
    """The family, the interval-delta distinct count included, against a
    brute force — heavy timestamp ties (second-granularity offsets) are
    exactly where event-ordering bugs in the +1/-1 running sum would
    surface."""
    rows = [
        (cid, BASE + timedelta(seconds=off), sku, cancel, cents / 100.0)
        for cid, off, sku, cancel, cents in events
    ]
    df = spark.createDataFrame(rows, BRONZE_SCHEMA)
    feats = build_customer_features(df, windows={"7d": 7}, carry_cols=())
    got = sorted(
        (
            r.customer_id,
            r.t_ref,
            r.txn_count_7d,
            round(r.spend_7d, 4),
            r.unique_skus_7d,
            round(r.cancel_rate_7d, 6),
            r.tenure_days,
        )
        for r in feats.collect()
    )
    assert got == brute_force(rows, 7)


# ---------------------------------------------------------------------------
# Funnel property: stage times match a from-first-principles reference and
# are invariant to input row order (window min is order-independent).
# ---------------------------------------------------------------------------

funnel_event = st.tuples(
    st.integers(0, 2),                        # user
    st.integers(0, 3600),                     # offset seconds
    st.sampled_from(["view", "click", "purchase", "error"]),
)


def _funnel_reference(rows):
    """Brute-force funnel: first view; first click strictly after it;
    first purchase strictly after that."""
    out = {}
    for uid in {r[0] for r in rows}:
        evs = sorted((t, k) for u, t, k in rows if u == uid)
        v = min((t for t, k in evs if k == "view"), default=None)
        c = (
            min((t for t, k in evs if k == "click" and t > v), default=None)
            if v is not None
            else None
        )
        p = (
            min((t for t, k in evs if k == "purchase" and t > c), default=None)
            if c is not None
            else None
        )
        out[uid] = (v, c, p)
    return out


@given(st.lists(funnel_event, min_size=1, max_size=25), st.randoms())
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_funnel_matches_reference_any_input_order(spark, rows, rnd):
    from retailfeaturestore_spark.operators.funnel import funnel_stage_times

    shuffled = list(rows)
    rnd.shuffle(shuffled)
    df = spark.createDataFrame(
        [(u, BASE + timedelta(seconds=t), k) for u, t, k in shuffled],
        "user_id long, ts timestamp, event_type string",
    )
    got = {
        r.user_id: tuple(
            None if x is None else int((x - BASE).total_seconds())
            for x in (r.stage_view, r.stage_click, r.stage_purchase)
        )
        for r in funnel_stage_times(df, ("view", "click", "purchase")).collect()
    }
    assert got == _funnel_reference(rows)

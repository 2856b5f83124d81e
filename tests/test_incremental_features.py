"""Incremental view maintenance for the W1-W6 family (r9):
incremental_customer_features must be BIT-IDENTICAL to a full recompute,
for exactly the newly-arrived rows, across the edge cases that break naive
incrementals: entities with history beyond the horizon, brand-new entities,
horizon-boundary rows, tenure (backward-unbounded — entity state), cancels,
and maintained-vs-derived first-seen state."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from retailfeaturestore_spark.operators.window_features import (
    build_customer_features,
    incremental_customer_features,
)

SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.IntegerType()),
        T.StructField("invoice_date", T.TimestampType()),
        T.StructField("stock_code", T.StringType()),
        T.StructField("is_cancel", T.BooleanType()),
        T.StructField("line_amount", T.DoubleType()),
        T.StructField("invoice", T.StringType()),
        T.StructField("line_no", T.IntegerType()),
    ]
)

CUT = "2024-03-01"


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def _fixture(spark):
    """Entities: 1 = deep history (first event far beyond the horizon —
    tenure must come from state, not context) + in-horizon rows incl. one
    EXACTLY at cutoff-30d; 2 = history only outside the horizon (empty
    context, non-trivial tenure); 3 = brand-new (no history at all);
    4 = untouched (history only — must not appear in the output); plus
    cancels and same-day ties on both sides of the cutoff."""
    hist_rows = [
        (1, ts("2023-01-15 09:00:00"), "A", False, 10.0, "h1", 1),
        (1, ts("2024-01-30 00:00:00"), "B", False, 20.0, "h2", 1),  # == cut-31d
        (1, ts("2024-01-31 00:00:00"), "B", False, 15.0, "h3", 1),  # == cut-30d
        (1, ts("2024-02-20 12:00:00"), "C", True, 99.0, "h4", 1),
        (1, ts("2024-02-28 23:00:00"), "A", False, 5.0, "h5", 1),
        (2, ts("2023-06-01 00:00:00"), "D", False, 7.0, "h6", 1),
        (4, ts("2024-02-25 10:00:00"), "E", False, 11.0, "h7", 1),
    ]
    new_rows = [
        (1, ts("2024-03-01 00:00:00"), "A", False, 30.0, "n1", 1),  # == cut
        (1, ts("2024-03-01 00:00:00"), "B", False, 12.0, "n1", 2),  # tie
        (1, ts("2024-03-05 08:00:00"), "F", True, 40.0, "n2", 1),
        (2, ts("2024-03-02 00:00:00"), "D", False, 9.0, "n3", 1),
        (3, ts("2024-03-03 00:00:00"), "G", False, 1.0, "n4", 1),
        (3, ts("2024-03-28 00:00:00"), "G", False, 2.0, "n5", 1),
    ]
    return (
        spark.createDataFrame(hist_rows, SCHEMA),
        spark.createDataFrame(new_rows, SCHEMA),
    )


def _sorted(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.slow  # driver verify-window fit (r14): see pyproject addopts
def test_incremental_equals_full_recompute(spark):
    """The incremental path equals a full recompute on every row and
    column, in the same column order."""
    hist, new = _fixture(spark)
    got = incremental_customer_features(new, hist, CUT, carry_cols=("invoice", "line_no"))
    full = build_customer_features(
        hist.unionByName(new), carry_cols=("invoice", "line_no")
    ).where(F.col("t_ref") >= F.to_date(F.lit(CUT)))
    assert got.columns == full.columns
    assert _sorted(got) == _sorted(full)
    # untouched entity 4 emitted nothing; new rows all present
    ids = {r.customer_id for r in got.collect()}
    assert ids == {1, 2, 3}
    assert got.count() == 6


def test_tenure_comes_from_state_not_context(spark):
    """Entity 2's only history is outside the horizon: the context is
    empty, so a context-derived tenure would restart at 0 — the state join
    must restore days-since-2023-06-01."""
    hist, new = _fixture(spark)
    got = incremental_customer_features(
        new, hist, CUT, carry_cols=("invoice", "line_no")
    )
    row = got.where(F.col("customer_id") == 2).collect()[0]
    assert row.tenure_days == (ts("2024-03-02") - ts("2023-06-01")).days
    # brand-new entity 3: tenure restarts at 0, then 25 days later
    t3 = {
        r.invoice: r.tenure_days
        for r in got.where(F.col("customer_id") == 3).collect()
    }
    assert t3 == {"n4": 0, "n5": 25}


@pytest.mark.slow  # driver verify-window fit (r14): see pyproject addopts
def test_contract_filters_are_defensive(spark):
    """A 'new' row older than the cutoff belongs to the backfill path and
    is ignored; a 'hist' row at/after the cutoff must not double-count."""
    hist, new = _fixture(spark)
    stale = spark.createDataFrame(
        [(1, ts("2024-02-01 00:00:00"), "Z", False, 1.0, "stale", 1)], SCHEMA
    )
    leak = spark.createDataFrame(
        [(1, ts("2024-03-02 00:00:00"), "Z", False, 1.0, "leak", 1)], SCHEMA
    )
    got = incremental_customer_features(
        new.unionByName(stale), hist.unionByName(leak), CUT,
        carry_cols=("invoice", "line_no"),
    )
    invs = {(r.invoice, r.line_no) for r in got.collect()}
    assert ("stale", 1) not in invs and ("leak", 1) not in invs
    full = build_customer_features(
        hist.unionByName(new), carry_cols=("invoice", "line_no")
    ).where(F.col("t_ref") >= F.to_date(F.lit(CUT)))
    assert got.count() == full.count()

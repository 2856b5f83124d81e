"""Incremental gold backfill: recomputing a date range must exactly equal
the full rebuild on that range (window lookback + full-history tenure/mode)
and must leave partitions outside the range untouched."""

from __future__ import annotations

import pytest

import glob
import os

from retailfeaturestore_spark.jobs import (
    backfill_feature_views,
    build_feature_views,
    ingest_to_bronze,
)


def _rows(spark, path):
    df = spark.read.parquet(path)
    return {
        (r.customer_id, str(r.t_ref)): tuple(
            r[c] for c in sorted(df.columns) if c not in ("customer_id", "t_ref")
        )
        for r in df.collect()
    }


@pytest.mark.slow  # driver verify-window fit (r14): see pyproject addopts
def test_backfill_range_equals_full_rebuild(spark, tmp_path):
    # customer 1 spans the backfill boundary: its March rows need February
    # history (7d/30d lookback) AND its January first-event (tenure epoch)
    rows = [
        ("I0", "s0", "d", "2", "2011-01-05 10:00:00", "3.5", "1", "UK"),
        ("I1", "s1", "d", "2", "2011-02-25 10:00:00", "3.5", "1", "UK"),
        ("I2", "s2", "d", "2", "2011-03-03 10:00:00", "3.5", "1", "UK"),
        ("I3", "s1", "d", "1", "2011-03-10 10:00:00", "2.0", "1", "FR"),
        ("I4", "sX", "d", "1", "2011-03-05 09:00:00", "9.0", "2", "FR"),
        ("C5", "sY", "d", "-1", "2011-01-20 09:00:00", "4.0", "2", "FR"),
    ]
    raw = spark.createDataFrame(
        rows,
        ["Invoice", "StockCode", "Description", "Quantity",
         "InvoiceDate", "Price", "Customer ID", "Country"],
    )
    bronze = str(tmp_path / "bronze")
    gold_full = str(tmp_path / "gold_full")
    gold_inc = str(tmp_path / "gold_inc")
    ingest_to_bronze(spark, raw, bronze)

    # full rebuild = ground truth; incremental = full build once, then
    # re-backfill March only
    build_feature_views(spark, bronze, gold_full)
    build_feature_views(spark, bronze, gold_inc)
    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{gold_inc}/date=2011-01-*/*.parquet")
        + glob.glob(f"{gold_inc}/date=2011-02-*/*.parquet")
    }
    n = backfill_feature_views(spark, bronze, gold_inc, "2011-03-01", "2011-03-31")
    assert n == 3  # the three March rows

    assert _rows(spark, gold_inc) == _rows(spark, gold_full)
    # partitions OUTSIDE the range were not rewritten (dynamic overwrite)
    after = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{gold_inc}/date=2011-01-*/*.parquet")
        + glob.glob(f"{gold_inc}/date=2011-02-*/*.parquet")
    }
    assert after == before and before


def test_backfill_sees_lookback_and_tenure_epoch(spark, tmp_path):
    """The March 3 row's 7d window must count the Feb 25 purchase (lookback)
    and its tenure must be measured from Jan 5 (full-history epoch)."""
    rows = [
        ("I0", "s0", "d", "2", "2011-01-05 10:00:00", "3.5", "1", "UK"),
        ("I1", "s1", "d", "2", "2011-02-25 10:00:00", "3.5", "1", "UK"),
        ("I2", "s2", "d", "2", "2011-03-03 10:00:00", "3.5", "1", "UK"),
    ]
    raw = spark.createDataFrame(
        rows,
        ["Invoice", "StockCode", "Description", "Quantity",
         "InvoiceDate", "Price", "Customer ID", "Country"],
    )
    bronze = str(tmp_path / "bronze")
    gold = str(tmp_path / "gold")
    ingest_to_bronze(spark, raw, bronze)
    build_feature_views(spark, bronze, gold)
    outside = glob.glob(f"{gold}/date=2011-0[12]-*/*.parquet")
    before = {p: os.path.getmtime(p) for p in outside}
    n = backfill_feature_views(spark, bronze, gold, "2011-03-01", "2011-03-31")
    assert n == 1  # the one March row, counted on the write
    # the January and February partitions were not rewritten (dynamic
    # partition overwrite on the write, not a static full overwrite)
    assert before and {p: os.path.getmtime(p) for p in outside} == before
    row = {
        str(r.t_ref): r for r in spark.read.parquet(gold).where("customer_id = 1").collect()
    }["2011-03-03 10:00:00"]
    assert row.txn_count_7d == 2.0      # Feb 25 inside the 7d lookback
    assert row.unique_skus_7d == 2.0
    assert row.tenure_days == 57        # Jan 5 -> Mar 3, full-history epoch

"""Incremental gold backfill: recomputing a date range must exactly equal
the full rebuild on that range (window lookback + full-history tenure/mode)
and must leave partitions outside the range untouched."""

from __future__ import annotations

import pytest

import glob
import os
from collections import Counter
from datetime import date, datetime, timedelta

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from retailfeaturestore_spark.io import write_date_partitioned
from retailfeaturestore_spark.jobs import (
    backfill_feature_views,
    build_feature_views,
    ingest_to_bronze,
)
from retailfeaturestore_spark.operators.normalize import normalize_orders_raw

EPOCH = datetime(1970, 1, 1)
RAW_COLUMNS = ["Invoice", "StockCode", "Description", "Quantity",
               "InvoiceDate", "Price", "Customer ID", "Country"]


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


# ---------------------------------------------------------------------------
# Repair vs full rebuild, for any base bronze plus one late day.
# ---------------------------------------------------------------------------

LATE_DAY = date(2011, 3, 1)
RANGE_END = LATE_DAY + timedelta(days=30)  # the repair's [day, day + 30d]

# (customer, day offset from Jan 1 2011 (Jan 1 - May 1), hour, country, cancel)
base_line = st.tuples(
    st.integers(1, 3), st.integers(0, 120), st.integers(0, 23),
    st.sampled_from(["UK", "FR", "DE"]), st.booleans(),
)
# (customer, hour, country, cancel) on LATE_DAY; customer 4 is new
late_line = st.tuples(
    st.integers(1, 4), st.integers(0, 23), st.sampled_from(["UK", "FR", "DE"]), st.booleans(),
)


# customer 1: UK, UK, then FR after the range; two late FR lines make FR the
# mode, while the first-seen line stays a UK one.  customer 2: first seen
# after the range; its late line is earlier.  customer 3: one UK and one
# late FR line, a tie that the ascending country breaks to FR.
REPRO_BASE = [(1, 4, 10, "UK", False), (1, 55, 10, "UK", False),
              (1, 109, 10, "FR", False), (2, 99, 10, "DE", False),
              (3, 20, 10, "UK", False)]
REPRO_LATE = [(1, 10, "FR", False), (1, 11, "FR", False), (2, 10, "DE", False),
              (3, 12, "FR", False)]


def _raw(spark, lines):
    """(customer, datetime, country, cancel) lines -> an xlsx-contract frame."""
    rows = [
        (f"{'C' if cancel else 'I'}{i}", f"s{i % 3}", "d", "-1" if cancel else "2",
         str(ts), "3.5", str(cid), country)
        for i, (cid, ts, country, cancel) in enumerate(lines)
    ]
    return spark.createDataFrame(rows, RAW_COLUMNS)


def _gold_rows(spark, path):
    """Every gold row as a dict, sorted.  ``t_ref`` is collected as epoch
    microseconds and rebuilt as a naive UTC datetime, the frame of the
    oracle's line times, whatever the host's timezone."""
    gold = spark.read.parquet(path).drop("date")
    gold = gold.withColumn("t_ref", F.unix_micros("t_ref"))
    rows = [r.asDict() for r in gold.collect()]
    for r in rows:
        r["t_ref"] = EPOCH + timedelta(microseconds=r["t_ref"])
    return sorted(rows, key=str)


def _in_range(rows):
    return [r for r in rows if LATE_DAY <= r["t_ref"].date() <= RANGE_END]


def _repair_and_rebuild(spark, root, base, late):
    """Build gold from ``base``, append the ``late`` lines to bronze and
    repair ``[LATE_DAY, LATE_DAY + 30d]``; also rebuild gold from the whole
    bronze.  Returns (repaired rows, rebuilt rows, all lines)."""
    bronze, gold, full = (str(root / n) for n in ("bronze", "gold", "full"))
    jan1 = datetime(2011, 1, 1)
    base = [(c, jan1 + timedelta(days=d, hours=h), k, x) for c, d, h, k, x in base]
    late_day = datetime.combine(LATE_DAY, datetime.min.time())
    late = [(c, late_day + timedelta(hours=h), k, x) for c, h, k, x in late]
    ingest_to_bronze(spark, _raw(spark, base), bronze)
    build_feature_views(spark, bronze, gold)
    write_date_partitioned(
        normalize_orders_raw(_raw(spark, late)), bronze, "invoice_date", mode="append"
    )
    backfill_feature_views(spark, bronze, gold, LATE_DAY.isoformat(), RANGE_END.isoformat())
    build_feature_views(spark, bronze, full)
    return _gold_rows(spark, gold), _gold_rows(spark, full), base + late


@pytest.mark.slow  # about 10 s per example
@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@example(base=REPRO_BASE, late=REPRO_LATE)
@given(base=st.lists(base_line, min_size=1, max_size=12),
       late=st.lists(late_line, min_size=1, max_size=4))
def test_repair_equals_rebuild_inside_range(spark, tmp_path_factory, base, late):
    """Every gold row the repair rewrote equals the full rebuild's, and the
    rebuild's full-history attributes equal a plain-Python oracle over the
    lines: the mode country (count descending, then country ascending) and
    tenure from the first line ever.  In the example, customer 1 has its mode in one
    country group and its first line in another, and customer 3's mode is
    a tie."""
    repaired, rebuilt, lines = _repair_and_rebuild(
        spark, tmp_path_factory.mktemp("repair"), base, late
    )
    want = _in_range(rebuilt)
    assert want  # the late lines themselves are in the range
    assert _in_range(repaired) == want
    for cid in {c for c, *_ in lines}:
        counts = Counter(k for c, _, k, _ in lines if c == cid)
        mode = min(counts, key=lambda k: (-counts[k], k))
        first = min(ts for c, ts, *_ in lines if c == cid)
        for r in (r for r in rebuilt if r["customer_id"] == cid):
            assert r["country"] == mode, (cid, r)
            assert r["tenure_days"] == (r["t_ref"] - first) // timedelta(days=1), (cid, r)


@pytest.mark.xfail(
    strict=True,
    reason="late-repair defect: a late line that moves a customer's mode country or "
    "first-seen time leaves that customer's gold rows outside the repaired range "
    "with the old country and tenure_days (ROADMAP Direction 1)",
)
@pytest.mark.slow
@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@example(base=REPRO_BASE, late=REPRO_LATE)
@given(base=st.lists(base_line, min_size=1, max_size=12),
       late=st.lists(late_line, min_size=1, max_size=4))
def test_repair_equals_rebuild_whole_table(spark, tmp_path_factory, base, late):
    repaired, rebuilt, _ = _repair_and_rebuild(
        spark, tmp_path_factory.mktemp("repair"), base, late
    )
    assert repaired == rebuilt

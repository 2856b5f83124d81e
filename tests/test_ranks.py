"""operators/ranks.py differentials: the range-partitioned global rank /
prefix-sum / ntile engine vs the single-partition window oracle it replaces
(small data, where the one-task window is still affordable).

The invariant the module exists for (ADVICE r7 #2): every consumer of the
range exchange must observe the SAME partition-id map.  The engine pins it
with a localCheckpoint, so the result must stay correct even with
spark.sql.exchangeReuse.enabled=false — the config under which two separate
materializations of a range exchange would otherwise resample different
boundaries.
"""

from __future__ import annotations

import contextlib
import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from retailfeaturestore_spark.operators.ranks import (
    exact_ntile,
    range_prefix_sum,
)


@contextlib.contextmanager
def _partitions(spark, n: int):
    """Run the ranks operators over ``n`` range partitions: they take the
    session's shuffle partition count."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _rows(n: int, seed: int, *, negatives: bool = True) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    keys = rng.sample(range(n * 10), n)  # unique -> total order
    lo = -500 if negatives else 0
    return [(k, rng.randint(lo, 500)) for k in keys]


@pytest.mark.parametrize("n_part", [1, 3, 8])
def test_prefix_sum_matches_global_window(spark, n_part):
    df = spark.createDataFrame(_rows(400, seed=n_part), "k long, v long")
    with _partitions(spark, n_part):
        got = range_prefix_sum(df, [F.col("k")], F.col("v"), "ps")
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("ps", F.sum("v").over(w).cast("long"))
    assert sorted(got.collect()) == sorted(want.collect())


def test_prefix_sum_survives_exchange_reuse_disabled(spark):
    """The correctness precondition is the checkpoint, NOT ReusedExchange:
    disabling exchange reuse must not change a single prefix."""
    df = spark.createDataFrame(_rows(300, seed=42), "k long, v long")
    key = "spark.sql.exchangeReuse.enabled"
    old = spark.conf.get(key, "true")
    try:
        spark.conf.set(key, "false")
        with _partitions(spark, 5):
            got = range_prefix_sum(df, [F.col("k")], F.col("v"), "ps").collect()
    finally:
        spark.conf.set(key, old)
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("ps", F.sum("v").over(w).cast("long")).collect()
    assert sorted(got) == sorted(want)


@pytest.mark.parametrize("n,k", [(400, 4), (401, 4), (399, 10), (7, 10), (3, 3)])
def test_exact_ntile_matches_sql_ntile(spark, n, k):
    """Including n % k != 0 (long tiles first) and n < k (one row per
    tile) — exact SQL ntile tile-size semantics, deterministic because the
    ordering is total."""
    df = spark.createDataFrame(_rows(n, seed=n * 31 + k), "k long, v long")
    with _partitions(spark, 4):
        got = exact_ntile(df, [F.col("v"), F.col("k")], k, "tile")
    w = Window.orderBy("v", "k")
    want = df.withColumn("tile", F.ntile(k).over(w).cast("long"))
    assert sorted(got.collect()) == sorted(want.collect())


def test_ranks_plans_have_no_single_partition_exchange(spark):
    """The module's reason to exist: no stage may require all rows in one
    task.  formatted plans of both primitives must be SinglePartition-free
    and every Window must be partitioned by the pid column."""
    from retailfeaturestore_spark.plans import formatted_plan

    df = spark.createDataFrame(_rows(100, seed=1), "k long, v long")
    with _partitions(spark, 4):
        outs = (
            range_prefix_sum(df, [F.col("k")], F.col("v"), "ps"),
            exact_ntile(df, [F.col("k")], 4, "tile"),
        )
    for out in outs:
        plan = formatted_plan(out)
        assert "SinglePartition" not in plan, plan[:1500]
        assert "windowspecdefinition(__rp_pid" in plan, plan[:1500]


# ---------------------------------------------------------------------------
# Property-based differentials: random data (duplicates, negatives, skew)
# vs pure-python recomputation of the exact semantics.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_row_lists = st.lists(
    st.tuples(st.integers(0, 40), st.integers(-100, 100)),
    min_size=1,
    max_size=120,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(_row_lists, st.integers(1, 6))
@pytest.mark.slow  # driver verify-window fit (r14): see pyproject addopts
def test_property_ntile_matches_python(spark, rows, n_part):
    """exact_ntile == the SQL ntile definition recomputed in python, under
    a total order (duplicate sort values disambiguated by a unique id)."""
    data = [(i, v) for i, (_, v) in enumerate(rows)]
    k = 4
    df = spark.createDataFrame(data, "id long, v long")
    with _partitions(spark, n_part):
        out = exact_ntile(df, [F.col("v"), F.col("id")], k, "tile")
    got = {r.id: r.tile for r in out.collect()}
    order = sorted(data, key=lambda t: (t[1], t[0]))
    n = len(order)
    q, rem = divmod(n, k)
    want = {}
    pos = 0
    for tile in range(1, k + 1):
        size = q + (1 if tile <= rem else 0)
        for _ in range(size):
            if pos < n:
                want[order[pos][0]] = tile
                pos += 1
    assert got == want


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(_row_lists, st.integers(1, 6))
@pytest.mark.slow  # driver verify-window fit (r14): see pyproject addopts
def test_property_prefix_sum_matches_python(spark, rows, n_part):
    """range_prefix_sum under a total order == running sum in python —
    any-sign values, arbitrary duplicates in the secondary key."""
    data = [(i, v) for i, (_, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, v long")
    with _partitions(spark, n_part):
        out = range_prefix_sum(df, [F.col("id")], F.col("v"), "ps")
    got = {r.id: r.ps for r in out.collect()}
    acc, want = 0, {}
    for i, v in sorted(data):
        acc += v
        want[i] = acc
    assert got == want


# ---------------------------------------------------------------------------
# exact_ntile_multi (r9): the fused multi-ordering ranking must be
# bit-identical to N independent exact_ntile calls (and so to SQL ntile).
# ---------------------------------------------------------------------------

from retailfeaturestore_spark.operators.ranks import exact_ntile_multi


@pytest.mark.parametrize("n_part", [1, 4])
@pytest.mark.parametrize("n,k", [(50, 4), (7, 4), (3, 5), (401, 7)])
def test_exact_ntile_multi_matches_per_spec_ntile(spark, n, k, n_part):
    rng = random.Random(n * 7 + k)
    rows = [
        (i, rng.randint(-50, 50), rng.randint(0, 10), float(rng.randint(-999, 999)) / 4)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "id long, a long, b long, c double")
    with _partitions(spark, n_part):
        got = exact_ntile_multi(
            df,
            [
                (F.col("a"), True, "ta"),
                (F.col("b"), False, "tb"),
                (F.col("c"), False, "tc"),
            ],
            k,
            tiebreak=["id"],
        )
        want = df
        for col, asc, out in (("a", True, "ta"), ("b", False, "tb"), ("c", False, "tc")):
            order = [F.col(col).asc() if asc else F.col(col).desc(), F.col("id")]
            t = exact_ntile(df, order, k, out).select("id", out)
            want = want.join(t, "id")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.select(*got.columns).collect())
    )


def test_exact_ntile_multi_plan_is_single_fused_exchange(spark):
    """The fusion's point: ONE range exchange and ONE pid-partitioned
    window serve all orderings — no SinglePartition stage, exactly one
    RangePartitioning in the plan."""
    from retailfeaturestore_spark.plans import formatted_plan

    df = spark.createDataFrame(_rows(100, seed=9), "k long, v long")
    with _partitions(spark, 4):
        out = exact_ntile_multi(
            df,
            [(F.col("v"), True, "t1"), (F.col("v"), False, "t2")],
            4,
            tiebreak=["k"],
        )
    plan = formatted_plan(out)
    assert "SinglePartition" not in plan, plan[:1500]
    assert plan.count("rangepartitioning") <= 1 or plan.count("RangePartitioning") <= 1
    assert "windowspecdefinition(__rp_pid" in plan, plan[:1500]


def test_exact_ntile_multi_long_precision_beyond_double(spark):
    """The decimal(38,9) sort key must order longs a double would collapse:
    2^53 and 2^53 + 1 are the same double but different tiles."""
    big = 1 << 53
    rows = [(1, big + 1), (2, big), (3, big - 1), (4, 0)]
    df = spark.createDataFrame(rows, "id long, v long")
    with _partitions(spark, 2):
        out = exact_ntile_multi(
            df, [(F.col("v"), True, "t")], 4, tiebreak=["id"]
        )
    got = {r.id: r.t for r in out.collect()}
    assert got == {4: 1, 3: 2, 2: 3, 1: 4}

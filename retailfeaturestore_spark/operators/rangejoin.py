"""Bucketized range join — the scale-safe form of ``point BETWEEN start AND
end`` joins.

Spark plans a plain range-predicate equi+theta join as a per-key nested
loop: every point row meets every interval row of the same key — quadratic
on whale keys, the classic range-join cliff (the same cliff the PIT
operators avoid with the union-window trick, ``operators.pit``).  This
operator is the general two-table escape: intervals explode into the
fixed-width time buckets they cover, points map to exactly ONE bucket, and
the join runs on ``(key, bucket)`` — an equi-join Catalyst hash-partitions
like any other — with the exact range predicate applied as a post-filter.

Each (point, interval) match appears exactly once (the point's single
bucket), so no dedup pass is needed.  Cost model: interval replication =
ceil(span / bucket) + 1 rows per interval — ``BUCKET_DAYS`` sits near the
typical span so replication stays O(1) while each bucket pairs only
time-adjacent rows.  At 100 TB this is the difference between a shuffle
keyed on (key, week) and a nested loop over every whale customer's
history.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["bucketed_range_join"]

# the time-bucket width, near the callers' 7- and 14-day interval spans
BUCKET_DAYS = 7


def bucketed_range_join(
    points: DataFrame,
    intervals: DataFrame,
    key: str,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    closed: str = "right",
) -> DataFrame:
    """Join each ``points`` row to every ``intervals`` row of the same
    ``key`` whose ``(start_ts, end_ts)`` range contains ``point_ts``.

    ``closed`` picks the boundary convention: ``"right"`` = ``start < p <=
    end`` (the churn-label convention), ``"both"`` = ``start <= p <= end``,
    ``"left"`` = ``start <= p < end``, ``"neither"`` = strict both sides.
    Output columns: all point columns plus the interval's columns (callers
    project/rename beforehand; colliding names follow Spark's usual
    duplicate-column rules, so pre-alias anything ambiguous).
    """
    preds: dict[str, tuple[bool, bool]] = {
        "right": (False, True),
        "both": (True, True),
        "left": (True, False),
        "neither": (False, False),
    }
    if closed not in preds:
        raise ValueError(f"closed must be one of {sorted(preds)}")
    inc_start, inc_end = preds[closed]

    bucket_us = BUCKET_DAYS * 86_400 * 1_000_000

    def bucket_of(c: Column) -> Column:
        return F.floor(F.unix_micros(c) / F.lit(bucket_us))

    p = points.withColumn("__b", bucket_of(F.col(point_ts)))
    # One row per bucket the interval overlaps; sequence() is inclusive of
    # both endpoints, so every bucket a matching point could land in is
    # emitted regardless of the boundary convention.
    i = intervals.withColumn(
        "__b",
        F.explode(
            F.sequence(bucket_of(F.col(start_ts)), bucket_of(F.col(end_ts)))
        ),
    )
    lo = (
        F.col(point_ts) >= F.col(start_ts)
        if inc_start
        else F.col(point_ts) > F.col(start_ts)
    )
    hi = (
        F.col(point_ts) <= F.col(end_ts)
        if inc_end
        else F.col(point_ts) < F.col(end_ts)
    )
    return p.join(i, [key, "__b"]).where(lo & hi).drop("__b")

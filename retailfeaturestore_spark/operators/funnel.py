"""Ordered funnel analysis over an event stream.

The classic product-analytics operator the reference's event surface implies
but never ships (its pred log is the same (entity, ts, type) shape —
``serving/pred_logger.py:33-61``): for an ordered list of stages, find each
user's first stage-1 event, the first stage-2 event strictly AFTER it, the
first stage-3 event strictly after that, and so on.

Plan shape: ONE exchange on the user key, then one WindowExec per stage
chained over that same partitioning (stage k's predicate references stage
k-1's timestamp, so the passes are sequential by construction, but Spark
plans them over a single shuffle — no re-exchange, no join).  At 100 TB the
only data movement is one shuffle of (user, ts, type) triples; funnel state
never leaves the executor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["funnel_stage_times", "funnel_summary"]


def funnel_stage_times(
    events: DataFrame,
    stages: tuple[str, ...],
) -> DataFrame:
    """One row per ``user_id``: ``stage_<name>`` = first qualifying timestamp of
    each funnel stage (null = user never reached it).  Strict ordering:
    a stage-k event only qualifies with ``ts >`` the stage-(k-1) time, so
    an out-of-order conversion (purchase logged before the click) does not
    count — the semantics a time-ordered funnel needs."""
    if not stages:
        raise ValueError("stages must be non-empty")
    w = Window.partitionBy("user_id")
    df = events.select("user_id", "ts", "event_type")
    prev: str | None = None
    for stage in stages:
        cond = F.col("event_type") == stage
        if prev is not None:
            cond = cond & (F.col("ts") > F.col(prev))
        col_name = f"stage_{stage}"
        df = df.withColumn(col_name, F.min(F.when(cond, F.col("ts"))).over(w))
        prev = col_name
    # collapse to one row per user; the stage columns are per-user constants
    # and the groupBy key is the window partition key, so this aggregation is
    # partition-local (no second exchange).
    return df.groupBy("user_id").agg(
        *[F.max(f"stage_{s}").alias(f"stage_{s}") for s in stages]
    )


def funnel_summary(stage_times: DataFrame, stages: tuple[str, ...]) -> DataFrame:
    """Single-row funnel report: users entering each stage plus step
    conversion rates (stage k count / stage k-1 count; null when the
    upstream count is 0).  Counts are exact longs; each rate is one IEEE
    division of two longs (deterministic, oracle-exact)."""
    counts = [F.count(f"stage_{s}") for s in stages]
    cols = [F.count(F.lit(1)).alias("n_users")] + [
        c.alias(f"n_{s}") for c, s in zip(counts, stages)
    ]
    for prev_c, cur_c, s in zip(counts, counts[1:], stages[1:]):
        cols.append(
            F.when(prev_c > 0, cur_c.cast("double") / prev_c.cast("double")).alias(
                f"rate_{s}"
            )
        )
    return stage_times.agg(*cols)

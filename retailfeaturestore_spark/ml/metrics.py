"""Distributed, engine-exact model evaluation metrics.

The reference evaluates AUC on the driver with sklearn over an in-memory
test matrix (``jobs/make_training_and_train.py:79``) — fine at 6k
customers, impossible at 100 TB.  This module computes the SAME quantity
as distributed integer algebra: ROC-AUC is the Mann-Whitney U statistic
with midrank tie handling, and every intermediate here is an exact long —
per-score-value positive/total counts, a cumulative count window, and the
doubled midrank sum ``2*cnt_less + cnt_eq + 1`` — so the result is
bit-identical across engines, partitionings, and runs (one final IEEE
division).  sklearn's interpolating trapezoid over the ROC curve equals
exactly this tie-corrected U/(n1*n0).

Scale shape: one map-side-combinable groupBy on the score value collapses
the corpus to |distinct scores| rows; the cumulative count then runs over
that AGGREGATE, not the corpus — and even that aggregate-level prefix is
computed range-partitioned (``operators/ranks.range_prefix_sum``), never
as a single-partition window: a ROC is a global ranking by definition, but
at extreme scale even |distinct scores| (e.g. 64-bit logit cents) can be
corpus-sized, and the one-task window would be the last serial choke
point.  For continuous scores at extreme scale, quantize scores first (the
standard streaming-AUC bucketing) through the same code path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.ranks import range_prefix_sum

__all__ = ["exact_auc"]


def exact_auc(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    *,
    cache_scope: str | None = None,
) -> DataFrame:
    """-> one row ``(n_pos, n_neg, u2, auc)``.

    ``u2 = 2*U`` where U is the tie-corrected Mann-Whitney statistic (kept
    doubled so it stays integer under midranks); ``auc = u2 / (2*n1*n0)``
    is the single floating-point operation.  Labels must be 0/1.
    ``cache_scope`` memoizes the rank engine's control-plane artifact per
    dataset version (resident serving — see operators/ranks).
    """
    per_score = (
        scored.select(
            F.col(score_col).alias("s"),
            F.col(label_col).cast("long").alias("y"),
        )
        .groupBy("s")
        .agg(F.sum("y").alias("n_pos"), F.count(F.lit(1)).alias("n"))
    )
    # Grouping made "s" unique, so the ordering is total and the prefix is
    # deterministic (ranks.range_prefix_sum's tie caveat doesn't apply).
    ranked = range_prefix_sum(
        per_score, [F.col("s")], F.col("n"), "cum", cache_scope=cache_scope
    ).withColumn(
        # sum over positives at this score of (2 * midrank):
        # midrank = cnt_less + (cnt_eq + 1)/2, doubled to stay integral
        "contrib2",
        F.col("n_pos") * (2 * (F.col("cum") - F.col("n")) + F.col("n") + 1),
    )
    return ranked.agg(
        F.sum("n_pos").cast("long").alias("n_pos"),
        (F.sum("n") - F.sum("n_pos")).cast("long").alias("n_neg"),
        (
            F.sum("contrib2")
            - F.sum("n_pos") * (F.sum("n_pos") + 1)
        ).cast("long").alias("u2"),
    ).select(
        "n_pos",
        "n_neg",
        "u2",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.col("u2").cast("double")
            / (2.0 * F.col("n_pos") * F.col("n_neg")),
        ).alias("auc"),  # single-class input -> NULL, not a crash
    )

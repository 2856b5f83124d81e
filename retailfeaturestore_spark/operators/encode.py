"""Categorical encoding + frequency operators (SURVEY.md §2.3 A1/A2, §2.5 J4).

The reference one-hot-encodes the top-10 countries computed once at training
time and frozen into ``feature_names.txt`` (``jobs/make_training_and_train.py:
48-53``; re-derived at serving from the contract file,
``serving/feature_service.py:51-54``).  The engine treats the category list
the same way: a frozen config, applied as a static ``when()`` column list —
no per-query aggregation, no pivot shuffle.  Columns are named
``{col}__{value}`` after the raw value, the reference's naming, so the
model-input rule (``ml.artifacts.resolve_feature``) re-derives the same
one-hot from ``col`` wherever the encoded column is absent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["onehot_encode", "topk_categories", "group_mode"]


def onehot_encode(df: DataFrame, col: str, categories: list[str]) -> DataFrame:
    """J4: static one-hot against a frozen category list, one int column
    ``{col}__{value}`` per raw category value.  Unknown/null values encode
    as all-zeros, matching the reference's contract-driven re-derivation
    (``serving/feature_service.py:51-54``)."""
    return df.withColumns(
        {
            f"{col}__{c}": F.coalesce((F.col(col) == F.lit(c)).cast("int"), F.lit(0))
            for c in categories
        }
    )


def topk_categories(df: DataFrame, col: str, k: int) -> DataFrame:
    """A1 + O2: value frequency -> deterministic top-k (count desc, value asc
    tiebreak — the reference's ``value_counts().head(10)`` inherits pandas
    sort stability; here the tiebreak is explicit).  Catalyst plans this as
    partial+final agg then TakeOrderedAndProject — no global sort."""
    return (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col(col).asc())
        .limit(k)
    )


def group_mode(df: DataFrame, key: str, col: str) -> DataFrame:
    """A2: most frequent value per group, ties -> lexicographically smallest
    (pandas ``mode().iloc[0]`` sorts modes — ``jobs/build_feature_views.py:59``;
    here the same semantics, made explicit and distributed).

    Two-phase: count by (key, value) — partial aggregation map-side — then a
    tiny row_number window over the (key, value-count) grain, which is already
    orders of magnitude smaller than the input."""
    from pyspark.sql import Window

    counts = df.groupBy(key, col).agg(F.count(F.lit(1)).alias("__n"))
    w = Window.partitionBy(key).orderBy(F.col("__n").desc(), F.col(col).asc())
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(F.col(key), F.col(col).alias(f"{col}_mode"), F.col("__n").alias("mode_count"))
    )

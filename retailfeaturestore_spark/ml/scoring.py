"""Vectorized batch model scoring (SURVEY.md §2.10).

The reference scores row-at-a-time in the serving process
(``model.predict_proba`` per request, ``serving/app.py:47``;
``serving/local_infer.py:82,116`` loops a head-n batch).  The Spark-first
shape is an Arrow-batched pandas_udf with the model broadcast once per
executor: 10-100x over row-at-a-time Python, and the scoring plan is just
``select(predict_udf(*feature_cols))`` — no collect, no driver loop.

LightGBM/sklearn are not installed in this environment, so the model object
is protocol-typed (``predict_proba(X) -> ndarray[n, 2]``): ``LinearStubModel``
is a deterministic logistic-free linear scorer used by tests; a real
lgbm/sklearn pickle drops in unchanged (it satisfies the same protocol).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .artifacts import resolve_feature

__all__ = ["LinearStubModel", "score_batch", "ScoredModel", "contract_columns"]


@dataclass
class LinearStubModel:
    """Deterministic predict_proba-protocol model: clipped linear blend.

    Avoids transcendentals (no sigmoid) so scores are engine-reproducible;
    weights frozen at construction (the 'artifact').
    """

    weights: tuple[float, ...]
    bias: float = 0.0

    def predict_proba(self, X: np.ndarray) -> np.ndarray:
        raw = X @ np.asarray(self.weights, dtype="float64") + self.bias
        p1 = np.clip(raw, 0.0, 1.0)
        return np.stack([1.0 - p1, p1], axis=1)


@dataclass
class ScoredModel:
    """Bundle of model + ordered feature contract (the engine's
    feature_names.txt analogue, held as code)."""

    model: object
    feature_names: tuple[str, ...]


def contract_columns(columns: list[str], feature_names) -> list[Column]:
    """The model-input rule (:func:`.artifacts.resolve_feature`) as Spark
    Columns: one double per contract name, aliased to it, in contract order,
    never null or NaN.  ``columns`` is the frame's ``df.columns``."""
    present = set(columns)
    out = []
    for name in feature_names:
        col, value = resolve_feature(name, present)
        if col is None:
            out.append(F.lit(0.0).alias(name))
            continue
        src = F.col(f"`{col}`")  # names may hold dots or spaces
        if value is None:
            c = F.nanvl(src.try_cast("double"), F.lit(0.0))
        else:
            c = (src == F.lit(value)).cast("double")
        out.append(F.coalesce(c, F.lit(0.0)).alias(name))
    return out


def score_batch(
    spark: SparkSession,
    features: DataFrame,
    scored: ScoredModel,
    threshold: float = 0.5,
) -> DataFrame:
    """Append probability + decision columns via a broadcast-model pandas_udf.

    The model's inputs are built by :func:`contract_columns` — the same rule
    serving's ``row_to_vector`` applies to one row — so the output is the
    input columns plus ``probability`` and ``prediction``.
    """
    bc = spark.sparkContext.broadcast(scored.model)

    @pandas_udf("double")
    def predict(*cols: pd.Series) -> pd.Series:
        X = np.column_stack([c.to_numpy(dtype="float64") for c in cols])
        return pd.Series(bc.value.predict_proba(X)[:, 1])

    inputs = contract_columns(features.columns, scored.feature_names)
    return features.withColumn("probability", predict(*inputs)).withColumn(
        "prediction", (F.col("probability") >= F.lit(threshold)).cast("int")
    )

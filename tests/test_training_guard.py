"""Model-boundary guards: row-budgeted driver collect + gated fit flavors."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from retailfeaturestore_spark.ml import training
from retailfeaturestore_spark.ml.training import collect_training_frame, fit_model


def _frame(spark, n):
    return (
        spark.range(n)
        .select(
            F.col("id").alias("customer_id"),
            F.timestamp_micros(F.col("id") * 1_000_000).alias("t_ref"),
            (F.col("id") % 7).cast("double").alias("x"),
            (F.col("id") % 2).cast("double").alias("churn_30d"),
        )
    )


def test_guard_trips_on_oversized_frame(spark, monkeypatch):
    monkeypatch.setattr(training, "MAX_DRIVER_ROWS", 100)
    ts = _frame(spark, 1000)
    with pytest.raises(ValueError, match="MAX_DRIVER_ROWS"):
        collect_training_frame(ts, ["x", "churn_30d"])
    with pytest.raises(ValueError, match="MAX_DRIVER_ROWS"):
        collect_training_frame(_frame(spark, 101), ["x", "churn_30d"])


def test_guard_passes_under_budget(spark, monkeypatch):
    monkeypatch.setattr(training, "MAX_DRIVER_ROWS", 100)
    pdf = collect_training_frame(_frame(spark, 50), ["x", "churn_30d"])
    assert len(pdf) == 50 and list(pdf.columns) == ["x", "churn_30d"]
    pdf = collect_training_frame(_frame(spark, 100), ["customer_id", "x"])
    assert sorted(pdf["customer_id"]) == list(range(100))


def test_guarded_collect_runs_the_plan_once(spark):
    """A counting UDF in a filter of the frame fires once per row: the
    guard and the collect are one pass over the plan, not a ``count()``
    followed by a ``toPandas()``."""
    calls = spark.sparkContext.accumulator(0)

    @F.udf("boolean")
    def counted(x):
        calls.add(1)
        return True

    ts = _frame(spark, 50).where(counted("x"))
    pdf = collect_training_frame(ts, ["customer_id", "x"])
    assert sorted(pdf["customer_id"]) == list(range(50))
    assert calls.value == 50


def test_fit_model_flavor_matches_environment():
    """LightGBM where installed, deterministic stub otherwise — both sides
    of the gate satisfy the predict_proba protocol."""
    try:
        import lightgbm  # noqa: F401

        expected = "lightgbm"
    except ImportError:
        expected = "linear_stub"

    rng = np.random.RandomState(0)
    X = rng.rand(200, 3)
    y = (X[:, 0] > 0.5).astype("float64")
    model, flavor = fit_model(X, y)
    assert flavor == expected
    proba = model.predict_proba(X[:5])
    assert proba.shape == (5, 2)
    assert np.all(proba >= 0.0) and np.all(proba <= 1.0)

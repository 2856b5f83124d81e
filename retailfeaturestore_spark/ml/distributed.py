"""Distributed model fitting (pyspark.ml) behind the engine's model protocol.

The reference trains LightGBM on a driver-side matrix
(``jobs/make_training_and_train.py:62-93``), and this engine's default path
mirrors that honestly (``training.fit_model`` after the guarded
``collect_training_frame``): the distributed plan shrinks the data, the fit
is single-node.  That is the right trade at feature-store scale (one row
per customer × snapshot), but a 100 TB training set whose matrix does NOT
fit a driver needs the fit itself distributed.  This module is that path:
``pyspark.ml.classification.LogisticRegression`` (ships inside pyspark —
no extra dependency) over the same training frame, with the fitted
coefficients re-wrapped into a plain ``predict_proba``-protocol object so
EVERY downstream surface — Arrow-batched ``score_batch``, the artifact
registry, serving — is byte-identical to the driver-fit path.  Linear
models collapse to their coefficients, so nothing downstream ever needs a
JVM ``Model.transform``; the Spark fit is purely a scale-out of the
estimation.

Scale shape: L-BFGS over ``treeAggregate`` gradient sums — per-iteration
cost is one pass over the partitions with a depth-2 reduce; no stage ever
materializes the matrix driver-side.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .scoring import ScoredModel, contract_columns

__all__ = [
    "LogisticModel",
    "fit_lr_distributed",
    "SparkModelBundle",
    "fit_gbt_distributed",
    "score_batch_spark",
    "save_spark_bundle",
    "load_spark_bundle",
]


@dataclass
class LogisticModel:
    """predict_proba-protocol logistic scorer: sigmoid(X @ w + b).

    The driver-side twin of a fitted ``LogisticRegressionModel`` — same
    math pyspark.ml applies inside ``transform`` (tested to 1e-9 parity),
    held as plain floats so it pickles into the artifact registry and
    broadcasts into ``score_batch`` exactly like every other model here.
    """

    weights: tuple[float, ...]
    bias: float = 0.0
    name: str = "spark_lr_v1"

    def predict_proba(self, X: np.ndarray) -> np.ndarray:
        raw = X @ np.asarray(self.weights, dtype="float64") + self.bias
        p1 = 1.0 / (1.0 + np.exp(-raw))
        return np.stack([1.0 - p1, p1], axis=1)


def fit_lr_distributed(
    train: DataFrame,
    feature_cols: list[str],
    label_col: str,
    reg_param: float = 0.0,
    elastic_net_param: float = 0.0,
    max_iter: int = 100,
    tol: float = 1e-9,
    standardize: bool = True,
) -> ScoredModel:
    """Fit logistic regression DISTRIBUTED and return a ``ScoredModel``
    whose model is a plain :class:`LogisticModel`.

    The input vector is built by the model-input rule
    (``scoring.contract_columns``, the rule ``score_batch`` and serving's
    ``row_to_vector`` apply — train/serve skew guard); the label must be
    0/1.  Deterministic: L-BFGS from a zero initial vector on a fixed
    dataset has no randomized state, so repeated fits yield identical
    coefficients.
    """
    from pyspark.ml.classification import LogisticRegression

    assembled = _assemble(train, feature_cols, label_col)
    lr = LogisticRegression(
        featuresCol="__features",
        labelCol="__label",
        regParam=reg_param,
        elasticNetParam=elastic_net_param,
        maxIter=max_iter,
        tol=tol,
        standardization=standardize,
        family="binomial",
    )
    fitted = lr.fit(assembled)
    model = LogisticModel(
        weights=tuple(float(w) for w in fitted.coefficients),
        bias=float(fitted.intercept),
    )
    return ScoredModel(model=model, feature_names=tuple(feature_cols))


@dataclass
class SparkModelBundle:
    """A fitted pyspark.ml model + the ordered feature contract.

    Unlike :class:`LogisticModel`, a tree ensemble does NOT collapse to a
    coefficient vector, so the JVM model object itself is the artifact and
    scoring goes through ``Model.transform`` (:func:`score_batch_spark`) —
    still fully distributed and JVM-side (no Python boundary at all, one
    better than the Arrow-batched pandas_udf path).
    """

    model: object
    feature_names: tuple[str, ...]


def _assemble(df: DataFrame, feature_cols, label_col: str | None) -> DataFrame:
    """``df`` plus the ``__features`` vector built by the model-input rule
    (and the double ``__label`` when ``label_col`` is given)."""
    from pyspark.ml.functions import array_to_vector

    inputs = F.array(*contract_columns(df.columns, feature_cols))
    out = df.withColumn("__features", array_to_vector(inputs))
    if label_col is not None:
        out = out.withColumn("__label", F.col(label_col).cast("double"))
    return out


def fit_gbt_distributed(
    train: DataFrame,
    feature_cols: list[str],
    label_col: str,
    max_iter: int = 30,
    max_depth: int = 5,
    step_size: float = 0.1,
    seed: int = 42,
) -> SparkModelBundle:
    """Distributed gradient-boosted trees — the LightGBM-analog path when
    the training matrix cannot sit on a driver (the reference's
    ``lgb.LGBMClassifier``, ``jobs/make_training_and_train.py:62-85``,
    scaled out).  Fixed seed => deterministic refits on a fixed frame."""
    from pyspark.ml.classification import GBTClassifier

    assembled = _assemble(train, feature_cols, label_col)
    gbt = GBTClassifier(
        featuresCol="__features",
        labelCol="__label",
        maxIter=max_iter,
        maxDepth=max_depth,
        stepSize=step_size,
        seed=seed,
    )
    return SparkModelBundle(model=gbt.fit(assembled), feature_names=tuple(feature_cols))


def score_batch_spark(
    bundle: SparkModelBundle,
    features: DataFrame,
    threshold: float = 0.5,
    proba_col: str = "probability",
) -> DataFrame:
    """``score_batch``'s output contract (the input columns plus probability
    double + prediction int; inputs built by the model-input rule), produced
    by the JVM model's own ``transform`` — whole plan stays JVM-side."""
    from pyspark.ml.functions import vector_to_array

    out = bundle.model.transform(_assemble(features, bundle.feature_names, None))
    p1 = vector_to_array(F.col("probability")).getItem(1)
    return (
        out.withColumn("__p1", p1)
        # drop the transform's own vector/raw/prediction columns: the output
        # contract is score_batch's (scalar proba + int decision)
        .drop("probability", "rawPrediction", "prediction", "__features")
        .withColumnRenamed("__p1", proba_col)
        .withColumn("prediction", (F.col(proba_col) >= F.lit(threshold)).cast("int"))
    )


def save_spark_bundle(bundle: SparkModelBundle, out_dir: str) -> dict[str, str]:
    """Persist the JVM model via its own writer + the feature contract +
    a class pointer for load-time dispatch (mirrors ``ml/artifacts.py``'s
    pickle registry for driver-side models)."""
    import json
    from pathlib import Path

    from .artifacts import write_feature_names

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    model_dir = out / "spark_model"
    bundle.model.write().overwrite().save(str(model_dir))
    write_feature_names(str(out / "feature_names.txt"), list(bundle.feature_names))
    cls = type(bundle.model)
    (out / "bundle.json").write_text(
        json.dumps({"model_class": f"{cls.__module__}.{cls.__name__}"}, indent=2)
    )
    return {"model": str(model_dir), "feature_names": str(out / "feature_names.txt")}


def load_spark_bundle(out_dir: str) -> SparkModelBundle:
    """Inverse of :func:`save_spark_bundle`.  Uses the active SparkSession
    implicitly (pyspark's ``Model.load`` contract)."""
    import importlib
    import json
    from pathlib import Path

    from .artifacts import read_feature_names

    out = Path(out_dir)
    meta = json.loads((out / "bundle.json").read_text())
    module, _, name = meta["model_class"].rpartition(".")
    cls = getattr(importlib.import_module(module), name)
    model = cls.load(str(out / "spark_model"))
    return SparkModelBundle(
        model=model,
        feature_names=tuple(read_feature_names(str(out / "feature_names.txt"))),
    )

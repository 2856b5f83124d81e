"""Training-set construction: features ⊕ labels ⊕ encoding ⊕ time split.

Parity with ``jobs/make_training_and_train.py`` (SURVEY.md §3.2), with the
documented corrections (§7.4):
- the label spine is deduped BEFORE the join (the reference's m x n
  duplicate-label blowup on multi-line invoices, ``:46``, is avoided);
- the train/test split is a TRUE event-time cutoff on ``t_ref`` (the
  reference's ``shuffle=False`` split is actually customer-ordered, ``:57-58``);
- one-hot categories come from the frozen contract, not a per-run top-k.

The model fit itself (LightGBM in the reference) happens at the driver on
the aggregated training frame via ``toPandas()`` — after the heavy lifting
(windows, labels, joins) ran distributed, the matrix is small; gradient
boosting does not belong inside the Spark plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.encode import onehot_encode

__all__ = ["build_training_set", "collect_training_frame", "fit_model"]


def build_training_set(
    features: DataFrame,
    labels: DataFrame,
    keys: tuple[str, str] = ("customer_id", "t_ref"),
    label_col: str = "churn_30d",
    cat_col: str | None = None,
    cat_categories: list[str] | None = None,
    time_cutoff: str | None = None,
    labels_deduped: bool = False,
) -> DataFrame:
    """J1 inner equi-join of the feature view with the (deduped) label spine,
    optional frozen-contract one-hot, optional ``is_train`` time-cutoff flag.

    ``labels_deduped=True`` skips the defensive ``distinct()`` when the
    caller guarantees unique ``keys`` (both interval-label operators dedupe
    internally) — one fewer exchange on the label side.
    """
    lab = labels.select(*keys, label_col)
    if not labels_deduped:
        lab = lab.distinct()
    out = features.join(lab, list(keys), "inner")
    if cat_col is not None and cat_categories:
        out = onehot_encode(out, cat_col, cat_categories)
    if time_cutoff is not None:
        out = out.withColumn(
            "is_train",
            (F.col(keys[1]) < F.lit(time_cutoff).cast("timestamp")).cast("int"),
        )
    return out


def collect_training_frame(
    ts: DataFrame,
    columns: list[str | Column],
    max_driver_rows: int = 2_000_000,
    sample_over_limit: bool = False,
    sample_key_cols: tuple[str, ...] = ("customer_id", "t_ref"),
):
    """Guarded ``toPandas()`` at the model boundary.

    The distributed plan (windows, labels, joins) must have already shrunk
    the data; this is the ONE place rows cross to the driver, so it carries
    an explicit row budget instead of trusting the caller (the reference
    concatenates everything into process memory unconditionally,
    ``jobs/make_training_and_train.py:49-55`` — the exact failure mode this
    guards against at 100 TB).

    Over budget: raise by default — silently training on partial data is
    worse than failing.  ``sample_over_limit=True`` opts into a
    DETERMINISTIC hash-sample down to ~``max_driver_rows`` (xxhash64 of the
    key columns, not ``DataFrame.sample`` — reproducible across retries and
    partitionings).
    """
    n = ts.count()
    if n > max_driver_rows:
        if not sample_over_limit:
            raise ValueError(
                f"training frame has {n} rows > max_driver_rows="
                f"{max_driver_rows}; aggregate further, raise the budget, or "
                "pass sample_over_limit=True for a deterministic hash-sample"
            )
        keep = int(max_driver_rows / n * 1_000_000)
        ts = ts.where(
            F.pmod(F.xxhash64(*[F.col(c) for c in sample_key_cols]), F.lit(1_000_000))
            < F.lit(keep)
        )
    return ts.select(*columns).toPandas()


def fit_model(X, y, params: dict | None = None):
    """Fit the churn model on the driver-side matrix.

    Import-gated LightGBM (``jobs/make_training_and_train.py:62-85`` trains
    ``lgb.LGBMClassifier``): where the library exists the real gradient
    booster trains with deterministic seeds; in hermetic environments the
    closed-form ``LinearStubModel`` stands in.  Both satisfy the
    ``predict_proba(X) -> ndarray[n, 2]`` protocol the scoring and serving
    layers type against, so every downstream path is identical.

    Returns ``(model, flavor)`` with flavor in {"lightgbm", "linear_stub"}.
    """
    import numpy as np

    try:
        import lightgbm as lgb
    except ImportError:
        lgb = None

    if lgb is not None:
        defaults = {
            "n_estimators": 200,
            "learning_rate": 0.05,
            "num_leaves": 31,
            "random_state": 42,
            "deterministic": True,
            "n_jobs": 1,
            "verbosity": -1,
        }
        model = lgb.LGBMClassifier(**{**defaults, **(params or {})})
        model.fit(X, y)
        return model, "lightgbm"

    from .scoring import LinearStubModel

    # deterministic closed-form ridge-ish fit (stands in for LightGBM)
    scale = np.abs(X).max(axis=0)
    scale[scale == 0] = 1.0
    w = (X / scale).T @ y / max(len(y), 1)
    model = LinearStubModel(weights=tuple((w / scale).tolist()), bias=0.0)
    return model, "linear_stub"

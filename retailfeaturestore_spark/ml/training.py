"""Training-set construction: features ⊕ labels ⊕ encoding.

Parity with ``jobs/make_training_and_train.py`` (SURVEY.md §3.2), with the
documented corrections (§7.4):
- the label spine is deduped BEFORE the join (the reference's m x n
  duplicate-label blowup on multi-line invoices, ``:46``, is avoided);
- one-hot categories come from the frozen contract, not a per-run top-k.

``jobs.make_training`` fits on every labelled row, with no held-out split
(the reference's ``shuffle=False`` split, ``:57-58``, is customer-ordered,
not a time split); the registry's ``training_set_build`` query shows an
event-time cutoff split on ``t_ref``.

The model fit itself (LightGBM in the reference) happens at the driver on
the aggregated training frame via ``toPandas()`` — after the heavy lifting
(windows, labels, joins) ran distributed, the matrix is small; gradient
boosting does not belong inside the Spark plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

from ..operators.encode import onehot_encode

__all__ = ["build_training_set", "collect_training_frame", "fit_model"]

# The row budget of the one collect to the driver.
MAX_DRIVER_ROWS = 2_000_000


def build_training_set(
    features: DataFrame,
    labels: DataFrame,
    cat_categories: list[str],
) -> DataFrame:
    """J1 inner equi-join of the feature view with the ``churn_30d`` label
    spine on ``(customer_id, t_ref)``, plus the frozen-contract one-hot of
    ``country`` over ``cat_categories`` (none when the list is empty).  The
    labels are unique on the keys (``pit.interval_existence_labels`` dedupes
    duplicate ``(key, ts)`` spine rows), so the label side runs no
    ``distinct()``.
    """
    keys = ["customer_id", "t_ref"]
    out = features.join(labels.select(*keys, "churn_30d"), keys, "inner")
    if cat_categories:
        out = onehot_encode(out, "country", cat_categories)
    return out


def collect_training_frame(ts: DataFrame, columns: list[str | Column]):
    """Guarded ``toPandas()`` at the model boundary.

    The distributed plan (windows, labels, joins) must have already shrunk
    the data; this is the ONE place rows cross to the driver, so it carries
    an explicit row budget instead of trusting the caller (the reference
    concatenates everything into process memory unconditionally,
    ``jobs/make_training_and_train.py:49-55`` — the exact failure mode this
    guards against at 100 TB).

    The plan runs once: at most ``MAX_DRIVER_ROWS + 1`` rows are collected,
    and more than the budget raises — silently training on partial data is
    worse than failing.
    """
    pdf = ts.select(*columns).limit(MAX_DRIVER_ROWS + 1).toPandas()
    if len(pdf) > MAX_DRIVER_ROWS:
        raise ValueError(
            f"training frame has more than MAX_DRIVER_ROWS={MAX_DRIVER_ROWS} "
            "rows; aggregate further or raise the budget"
        )
    return pdf


def fit_model(X, y):
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
        model = lgb.LGBMClassifier(
            n_estimators=200,
            learning_rate=0.05,
            num_leaves=31,
            random_state=42,
            deterministic=True,
            n_jobs=1,
            verbosity=-1,
        )
        model.fit(X, y)
        return model, "lightgbm"

    from .scoring import LinearStubModel

    # deterministic closed-form ridge-ish fit (stands in for LightGBM)
    scale = np.abs(X).max(axis=0)
    scale[scale == 0] = 1.0
    w = (X / scale).T @ y / max(len(y), 1)
    model = LinearStubModel(weights=tuple((w / scale).tolist()))
    return model, "linear_stub"

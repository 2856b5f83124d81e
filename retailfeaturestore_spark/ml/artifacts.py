"""Model artifact registry (SURVEY.md §2.1 S8).

Parity with ``jobs/make_training_and_train.py:87-93`` / ``serving/app.py:21-22``:
a pickled model + ``feature_names.txt`` column contract + a metrics sidecar.
joblib/MLflow are not installed here; stdlib pickle is format-compatible for
the protocol-typed models this engine ships, and the MLflow hook is a
documented one-liner where available.

:func:`resolve_feature` is the contract's one model-input rule: training,
both batch scorers, the distributed fit and serving build inputs through it.
"""

from __future__ import annotations

import json
import pickle
from pathlib import Path

__all__ = [
    "resolve_feature", "save_artifacts", "load_model", "read_feature_names", "write_feature_names",
]

# never model inputs, even when a contract names them
LEAKAGE_COLS = frozenset({"country", "t_ref", "churn_30d"})


def resolve_feature(name: str, columns) -> tuple[str | None, str | None]:
    """Where contract name ``name`` takes its value from, given the
    ``columns`` a snapshot has (any container supporting ``in``).

    Returns ``(col, value)``, checked in this order:

    - a leakage name -> ``(None, None)``: the input is 0.0;
    - a present column -> ``(name, None)``: its value, null or NaN -> 0.0;
    - ``{col}__{value}`` with ``col`` present -> ``(col, value)``: the
      one-hot ``1.0 if col == value else 0.0``;
    - anything else -> ``(None, None)``: 0.0.
    """
    if name in LEAKAGE_COLS:
        return None, None
    if name in columns:
        return name, None
    col, sep, value = name.partition("__")
    if sep and col in columns:
        return col, value
    return None, None


def write_feature_names(path: str, names: list[str]) -> None:
    Path(path).write_text("\n".join(names) + "\n")


def read_feature_names(path: str) -> list[str]:
    return [ln for ln in Path(path).read_text().splitlines() if ln]


def save_artifacts(
    out_dir: str,
    model: object,
    feature_names: list[str],
    metrics: dict | None = None,
    mlflow_experiment: str | None = None,
) -> dict[str, str]:
    """Persist model + contract + metrics; optionally mirror to MLflow.

    The MLflow hook (``jobs/make_training_and_train.py:87-93`` logs params/
    metrics/model per run) is import-gated: pass ``mlflow_experiment`` where
    the library and a tracking server exist and the same artifacts are
    logged as a run; absent the import, the local registry is authoritative
    and nothing else changes.
    """
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    model_path = out / "model.pkl"
    with open(model_path, "wb") as f:
        pickle.dump(model, f)
    write_feature_names(str(out / "feature_names.txt"), feature_names)
    if metrics is not None:
        (out / "metrics.json").write_text(json.dumps(metrics, indent=2))
    if mlflow_experiment is not None:
        try:
            import mlflow
        except ImportError:
            mlflow = None
        if mlflow is not None:
            mlflow.set_experiment(mlflow_experiment)
            with mlflow.start_run():
                mlflow.log_params({"n_features": len(feature_names)})
                if metrics is not None:
                    mlflow.log_metrics(
                        {k: v for k, v in metrics.items() if isinstance(v, (int, float))}
                    )
                mlflow.log_artifact(str(model_path))
                mlflow.log_artifact(str(out / "feature_names.txt"))
    return {
        "model": str(model_path),
        "feature_names": str(out / "feature_names.txt"),
        "metrics": str(out / "metrics.json") if metrics is not None else "",
    }


def load_model(model_dir: str) -> tuple[object, list[str]]:
    d = Path(model_dir)
    with open(d / "model.pkl", "rb") as f:
        model = pickle.load(f)
    return model, read_feature_names(str(d / "feature_names.txt"))

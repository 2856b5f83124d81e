"""HTTP serving app factory — FastAPI parity with ``serving/app.py``.

Endpoint contract (first-registration semantics of the reference, SURVEY.md
§7.4.7: the reference registers /predict three times and FastAPI routes to
the FIRST — the variant returning ``log_path``/``log_error``; that is the
contract reproduced here, once, without the dead duplicates):

- ``POST /predict`` {customer_id, t_ref?, threshold?} ->
  {customer_id, probability, prediction, threshold, t_ref, latency_ms,
   log_path, log_error}
- ``GET /health``  -> {status, mode, rows|keys}
- ``POST /refresh`` -> {rows} (offline cache reload; also flushes the
  buffered prediction log, adding ``log_error`` if that write fails)
- ``POST /debug/write_test`` -> {wrote} (pred-log write-path probe,
  reference ``serving/app.py:120-138``)
- ``GET /debug/log_state`` -> {pred_files, feature_files} (reference
  ``serving/app.py:141-146``)

FastAPI/uvicorn are not installed in this environment, so ``create_app`` is
import-gated; ``predict_once`` / ``debug_write_test`` / ``debug_log_state``
hold the full request pipelines and are directly testable + reused by the
CLI (local_infer parity).

``ServingContext.service`` accepts any get_snapshot provider: offline-only,
or the reference's online->offline ``FallbackFeatureService`` chain.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np

from ..sources.pred_log import flush_predictions, log_prediction
from .feature_service import OfflineFeatureService, row_to_vector

__all__ = [
    "ServingContext",
    "predict_once",
    "health_state",
    "debug_write_test",
    "debug_log_state",
    "create_app",
]


@dataclass
class ServingContext:
    service: object                    # get_snapshot(id, as_of=None) provider
    model: object                      # predict_proba protocol
    feature_names: list[str]
    pred_log_dir: str | None = None
    threshold: float = 0.5


def predict_once(
    ctx: ServingContext, customer_id: int, t_ref=None, threshold: float | None = None
) -> dict:
    """The /predict pipeline: as-of lookup -> contract alignment -> score ->
    audit log (failure to log never fails the request — log_error carries it,
    matching the first-registered reference handler)."""
    t0 = time.perf_counter()
    thr = ctx.threshold if threshold is None else float(threshold)
    snap = ctx.service.get_snapshot(customer_id, as_of=t_ref)
    if snap is None:
        return {
            "customer_id": customer_id,
            "error": "customer not found",
            "latency_ms": (time.perf_counter() - t0) * 1000.0,
        }
    x = row_to_vector(snap, ctx.feature_names)
    proba = float(ctx.model.predict_proba(np.asarray([x], dtype="float64"))[0, 1])
    latency_ms = (time.perf_counter() - t0) * 1000.0
    log_path, log_error = None, None
    if ctx.pred_log_dir:
        try:
            log_path = log_prediction(
                ctx.pred_log_dir,
                customer_id=customer_id,
                probability=proba,
                threshold=thr,
                latency_ms=latency_ms,
                model_artifact="model",
                t_ref=snap.get("t_ref"),
                features=dict(zip(ctx.feature_names, x)),
            )
        except Exception as e:
            log_error = str(e)
    return {
        "customer_id": customer_id,
        "probability": proba,
        "prediction": int(proba >= thr),
        "threshold": thr,
        "t_ref": str(snap.get("t_ref")),
        "latency_ms": latency_ms,
        "log_path": log_path,
        "log_error": log_error,
    }


def health_state(ctx: ServingContext) -> dict:
    """The /health payload (reference ``serving/app.py:77-90``): online mode
    reports a store ping + key count (SCAN over the key prefix, A7); offline
    mode reports the snapshot row count; failures degrade to a status=error
    payload instead of raising."""
    online = getattr(ctx.service, "online", None)
    try:
        if online is not None:
            client = online.client
            pong = client.ping() if hasattr(client, "ping") else True
            n_keys = sum(1 for _ in client.scan_iter(match=f"{online.key_prefix}*"))
            return {
                "status": "ok",
                "mode": "online+offline",
                "store_ping": bool(pong),
                "online_keys": n_keys,
                "offline_rows": ctx.service.row_count(),
            }
        return {"status": "ok", "mode": "offline", "rows": ctx.service.row_count()}
    except Exception as e:  # pragma: no cover - backend failure path
        return {"status": "error", "detail": str(e)}


def debug_write_test(ctx: ServingContext) -> dict:
    """Pred-log write-path probe (reference ``serving/app.py:120-138``): a
    zeroed audit row through the real writer, flushed at once, so operators
    can confirm disk permissions/layout without issuing a scoring request."""
    if not ctx.pred_log_dir:
        return {"error": "pred_log_dir not configured"}
    path = log_prediction(
        ctx.pred_log_dir,
        customer_id=0,
        probability=0.0,
        threshold=ctx.threshold,
        latency_ms=0.0,
        model_artifact="test",
    )
    flush_predictions()
    return {"wrote": path}


def debug_log_state(ctx: ServingContext) -> dict:
    """Operational state counts (reference ``serving/app.py:141-146``):
    parquet file counts for the pred log and the offline feature snapshot."""
    preds = (
        len(list(Path(ctx.pred_log_dir).rglob("*.parquet")))
        if ctx.pred_log_dir and Path(ctx.pred_log_dir).exists()
        else 0
    )
    gold_dir = getattr(
        ctx.service, "gold_dir", getattr(getattr(ctx.service, "offline", None), "gold_dir", None)
    )
    feats = (
        len(list(Path(gold_dir).rglob("*.parquet")))
        if gold_dir and Path(gold_dir).exists()
        else 0
    )
    return {"pred_files": preds, "feature_files": feats}


def create_app(ctx: ServingContext):
    """FastAPI app factory (import-gated: fastapi absent here by design)."""
    try:
        from fastapi import FastAPI  # type: ignore[import-not-found]
        from pydantic import BaseModel  # type: ignore[import-not-found]
    except ImportError as e:  # pragma: no cover - environment-dependent
        raise RuntimeError(
            "fastapi/pydantic not installed; use predict_once() directly"
        ) from e

    class PredictRequest(BaseModel):
        customer_id: int
        t_ref: str | None = None
        threshold: float | None = None

    app = FastAPI()

    @app.post("/predict")
    def predict(req: PredictRequest):
        return predict_once(ctx, req.customer_id, req.t_ref, req.threshold)

    @app.get("/health")
    def health():
        return health_state(ctx)

    @app.post("/refresh")
    def refresh():
        out = {"rows": ctx.service.refresh()}
        try:
            flush_predictions()
        except OSError as e:
            out["log_error"] = str(e)
        return out

    @app.post("/debug/write_test")
    def write_test():
        return debug_write_test(ctx)

    @app.get("/debug/log_state")
    def log_state():
        return debug_log_state(ctx)

    return app


def app_from_env():
    """Container/uvicorn entrypoint: build the ServingContext from the
    reference's env contract (``serving/app.py:19`` FEATURE_BACKEND;
    ``serving/feature_service.py:65-67`` REDIS_URL/REDIS_KEY_PREFIX) plus
    MODEL_DIR / GOLD_DIR / PRED_LOG_DIR / THRESHOLD, then hand it to
    :func:`create_app`.  ``FEATURE_BACKEND=redis`` wires the
    online-with-offline-fallback chain; anything else serves offline-only.

    Usage: ``uvicorn --factory retailfeaturestore_spark.serving.app:app_from_env``.
    """
    import os

    from ..ml.artifacts import load_model
    from .feature_service import (
        FallbackFeatureService,
        OfflineFeatureService,
        OnlineFeatureService,
    )

    model, feature_names = load_model(os.getenv("MODEL_DIR", "artifacts/model"))
    offline = OfflineFeatureService(os.getenv("GOLD_DIR", "data/gold"))
    service = offline
    if os.getenv("FEATURE_BACKEND", "offline").lower() == "redis":
        import redis  # type: ignore[import-not-found]

        client = redis.Redis.from_url(
            os.getenv("REDIS_URL", "redis://localhost:6379/0"),
            decode_responses=True,
        )
        online = OnlineFeatureService(
            client, key_prefix=os.getenv("REDIS_KEY_PREFIX", "fs:customer:")
        )
        service = FallbackFeatureService(online, offline)
    ctx = ServingContext(
        service=service,
        model=model,
        feature_names=feature_names,
        pred_log_dir=os.getenv("PRED_LOG_DIR") or None,
        threshold=float(os.getenv("THRESHOLD", "0.5")),
    )
    return create_app(ctx)

"""Starlette-free /predict handler contract test (VERDICT r11 next-round
#6): drives ``create_app``'s route registration and the registered
handlers THEMSELVES through stub fastapi/pydantic modules, against a live
parquet snapshot — so the exact first-registration response contract
(including ``log_path``/``log_error``, the reference's winning /predict
variant, ``serving/app.py:38-96``) is pytest-proven even in sandboxes
where fastapi cannot be installed.  The HTTP-layer twin
(test_serving_http.py) still exercises real ASGI wherever the
``.[serving]`` extra exists; this module closes the gap between handler
and route registration everywhere else.
"""

from __future__ import annotations

import os
import sys
import types

import pandas as pd
import pytest

from retailfeaturestore_spark.ml.scoring import LinearStubModel
from retailfeaturestore_spark.serving.app import (
    ServingContext,
    create_app,
    predict_once,
)
from retailfeaturestore_spark.serving.feature_service import OfflineFeatureService
from retailfeaturestore_spark.sources.pred_log import flush_predictions


class _StubRouter:
    """Captures (method, path) -> handler with FastAPI's first-registration
    semantics: a duplicate path registration is RECORDED but never routed
    (the reference registers /predict three times; the first wins)."""

    def __init__(self):
        self.routes: dict[tuple[str, str], object] = {}
        self.registrations: list[tuple[str, str]] = []

    def _register(self, method, path, fn):
        self.registrations.append((method, path))
        self.routes.setdefault((method, path), fn)
        return fn

    def post(self, path):
        return lambda fn: self._register("POST", path, fn)

    def get(self, path):
        return lambda fn: self._register("GET", path, fn)


class _StubBaseModel:
    def __init__(self, **kw):
        for name in self.__class__.__annotations__:
            setattr(self, name, kw.get(name, getattr(self.__class__, name, None)))


@pytest.fixture()
def stub_ctx(tmp_path, monkeypatch):
    fastapi_mod = types.ModuleType("fastapi")
    fastapi_mod.FastAPI = _StubRouter
    pydantic_mod = types.ModuleType("pydantic")
    pydantic_mod.BaseModel = _StubBaseModel
    monkeypatch.setitem(sys.modules, "fastapi", fastapi_mod)
    monkeypatch.setitem(sys.modules, "pydantic", pydantic_mod)

    gold = tmp_path / "gold"
    gold.mkdir()
    pd.DataFrame(
        {
            "customer_id": [1, 2],
            "t_ref": [pd.Timestamp("2024-01-01"), pd.Timestamp("2024-01-02")],
            "spend_30d": [1.0, 3.0],
            "txn_count_30d": [2.0, 4.0],
            "country": ["UK", "FR"],
        }
    ).to_parquet(gold / "part-0.parquet")
    ctx = ServingContext(
        service=OfflineFeatureService(str(gold)),
        model=LinearStubModel(weights=(0.1, 0.1), bias=0.0),
        feature_names=["spend_30d", "txn_count_30d"],
        pred_log_dir=str(tmp_path / "preds"),
        threshold=0.5,
    )
    return create_app(ctx), ctx


def test_route_surface_matches_reference(stub_ctx):
    app, _ = stub_ctx
    assert set(app.routes) == {
        ("POST", "/predict"),
        ("GET", "/health"),
        ("POST", "/refresh"),
        ("POST", "/debug/write_test"),
        ("GET", "/debug/log_state"),
    }
    # one registration per route: the reference's dead duplicate /predict
    # registrations are reproduced as the WINNING contract only
    assert len(app.registrations) == len(set(app.registrations)) == 5


def test_predict_route_serves_first_registration_contract(stub_ctx):
    app, ctx = stub_ctx
    handler = app.routes[("POST", "/predict")]
    # the handler takes the pydantic request model; drive it the way the
    # HTTP layer would after validation
    req = types.SimpleNamespace(customer_id=1, t_ref=None, threshold=None)
    out = handler(req)
    # the exact first-handler key set, log_path/log_error included
    assert set(out) == {
        "customer_id",
        "probability",
        "prediction",
        "threshold",
        "t_ref",
        "latency_ms",
        "log_path",
        "log_error",
    }
    assert out["customer_id"] == 1
    assert out["log_error"] is None
    flush_predictions()
    assert out["log_path"] and os.path.exists(out["log_path"])
    logged = pd.read_parquet(out["log_path"]).iloc[0]
    assert logged["customer_id"] == 1 and logged["probability"] == out["probability"]
    assert out["prediction"] == int(out["probability"] >= out["threshold"])
    # route handler == predict_once pipeline (no drift between the
    # registered wrapper and the directly-testable function)
    direct = predict_once(ctx, 1)
    assert {k: v for k, v in out.items() if k not in ("latency_ms", "log_path")} == {
        k: v for k, v in direct.items() if k not in ("latency_ms", "log_path")
    }


def test_predict_route_threshold_override_and_missing(stub_ctx):
    app, _ = stub_ctx
    handler = app.routes[("POST", "/predict")]
    hi = handler(types.SimpleNamespace(customer_id=1, t_ref=None, threshold=0.99))
    assert hi["threshold"] == 0.99 and hi["prediction"] == int(
        hi["probability"] >= 0.99
    )
    missing = handler(types.SimpleNamespace(customer_id=999, t_ref=None, threshold=None))
    assert missing["error"] == "customer not found"


def test_health_and_debug_routes(stub_ctx):
    app, ctx = stub_ctx
    health = app.routes[("GET", "/health")]()
    assert health["status"] == "ok" and health["mode"] == "offline"
    wt = app.routes[("POST", "/debug/write_test")]()
    assert wt["wrote"]
    ls = app.routes[("GET", "/debug/log_state")]()
    assert ls["pred_files"] >= 1
    refreshed = app.routes[("POST", "/refresh")]()
    assert refreshed["rows"] == 2

"""Real-dependency leg (VERDICT r5 #3): the import-gated integration paths
that hermetic sandboxes exercise only through fakes — a live uvicorn HTTP
server, a real LightGBM fit, and the redis pipeline surface against a
faithful client (fakeredis).  Every test self-skips where its dependency is
absent; the CI ``real-deps`` job installs them all and runs this file, so
the gates are PROVEN green somewhere, not just argued."""

from __future__ import annotations

import threading
import time

import pandas as pd
import pytest


def test_fit_model_returns_lightgbm_flavor():
    """Where the real gradient booster exists, fit_model must train it —
    reference parity jobs/make_training_and_train.py:62-85."""
    pytest.importorskip("lightgbm")
    import numpy as np

    from retailfeaturestore_spark.ml.training import fit_model

    rng = np.random.RandomState(7)
    X = rng.rand(200, 3)
    y = (X[:, 0] + 0.5 * X[:, 1] > 0.8).astype(int)
    model, flavor = fit_model(X, y)
    assert flavor == "lightgbm"
    proba = model.predict_proba(X)
    assert proba.shape == (200, 2)
    # deterministic seeds: a refit reproduces bit-identical probabilities
    model2, _ = fit_model(X, y)
    assert (model2.predict_proba(X) == proba).all()


def test_redis_pipeline_roundtrip_through_fakeredis(monkeypatch):
    """The sink's exact production call sequence (publish_rows: pipeline /
    hset mapping / expire / batched execute) against fakeredis — a faithful
    redis-py implementation — then read back through the serving layer's
    typed decode.  Catches any divergence the hand-rolled DictRedis fake
    would mask."""
    fakeredis = pytest.importorskip("fakeredis")

    from retailfeaturestore_spark.serving.feature_service import (
        OnlineFeatureService,
    )
    from retailfeaturestore_spark.sources import redis_sink
    from retailfeaturestore_spark.sources.redis_sink import publish_rows

    monkeypatch.setattr(redis_sink, "PIPELINE_BATCH", 1)  # force the mid-stream flush branch
    client = fakeredis.FakeStrictRedis()
    rows = [
        {
            "customer_id": 1,
            "t_ref": pd.Timestamp("2024-01-02 10:00:00"),
            "country": "UK",
            "spend_30d": 12.5,
            "txn_count_30d": 3.0,
        },
        {
            "customer_id": 2,
            "t_ref": pd.Timestamp("2024-01-03 11:00:00"),
            "country": "FR",
            "spend_30d": None,
            "txn_count_30d": 1.0,
        },
    ]
    publish_rows(
        rows,
        factory=lambda: client,
        feature_cols=["spend_30d", "txn_count_30d"],
        onehot_categories=["UK", "FR"],
        ttl=3600,
    )
    svc = OnlineFeatureService(client)
    snap = svc.get_snapshot(1)
    assert snap["spend_30d"] == 12.5 and snap["txn_count_30d"] == 3.0
    assert snap["country__UK"] == 1.0 and snap["country__FR"] == 0.0
    assert snap["meta:t_ref"] == "2024-01-02T10:00:00"
    assert snap["meta:country"] == "UK"
    assert svc.get_snapshot(2)["spend_30d"] == 0.0  # null -> "0.0" contract
    assert svc.get_snapshot(99) is None
    assert client.ttl("fs:customer:1") > 0  # expire reached the store


@pytest.fixture()
def live_server(tmp_path):
    """A real uvicorn server on an ephemeral port, torn down after."""
    pytest.importorskip("fastapi")
    uvicorn = pytest.importorskip("uvicorn")
    pytest.importorskip("httpx")

    from retailfeaturestore_spark.ml.scoring import LinearStubModel
    from retailfeaturestore_spark.serving.app import ServingContext, create_app
    from retailfeaturestore_spark.serving.feature_service import (
        OfflineFeatureService,
    )

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
    config = uvicorn.Config(
        create_app(ctx), host="127.0.0.1", port=0, log_level="error"
    )
    server = uvicorn.Server(config)
    thread = threading.Thread(target=server.run, daemon=True)
    thread.start()
    deadline = time.time() + 30
    while not server.started:
        if time.time() > deadline:
            raise RuntimeError("uvicorn did not start within 30s")
        time.sleep(0.05)
    port = server.servers[0].sockets[0].getsockname()[1]
    yield f"http://127.0.0.1:{port}"
    server.should_exit = True
    thread.join(timeout=10)


def test_live_uvicorn_serving_endpoints(live_server):
    """reference serving/app.py:38-74 parity over a REAL HTTP socket, not
    the in-process TestClient: health payload, predict contract, request
    validation."""
    import httpx

    health = httpx.get(f"{live_server}/health").json()
    assert health == {"status": "ok", "mode": "offline", "rows": 2}

    r = httpx.post(f"{live_server}/predict", json={"customer_id": 1})
    assert r.status_code == 200
    body = r.json()
    # first-registration-wins /predict contract (reference serving/app.py)
    assert body["customer_id"] == 1
    assert 0.0 <= body["probability"] <= 1.0
    assert body["prediction"] in (0, 1)
    assert body["threshold"] == 0.5

    missing = httpx.post(f"{live_server}/predict", json={"customer_id": 999})
    assert missing.json()["error"] == "customer not found"

    bad = httpx.post(f"{live_server}/predict", json={"customer_id": "xyz"})
    assert bad.status_code == 422  # pydantic validation over the wire


def test_publish_rows_roundtrip_through_dict_fake(monkeypatch):
    """Sandbox-runnable twin of the fakeredis roundtrip: same production
    publish_rows sequence against the hand-rolled DictRedis — keeps the
    refactored partition publisher covered where fakeredis is absent."""
    from retailfeaturestore_spark.serving.feature_service import (
        OnlineFeatureService,
    )
    from retailfeaturestore_spark.sources import redis_sink
    from retailfeaturestore_spark.sources.redis_sink import (
        DictRedis,
        publish_rows,
    )

    monkeypatch.setattr(redis_sink, "PIPELINE_BATCH", 1)
    client = DictRedis()
    publish_rows(
        [
            {
                "customer_id": 7,
                "t_ref": pd.Timestamp("2024-02-01 09:00:00"),
                "country": "DE",
                "spend_30d": 4.25,
                "txn_count_30d": 2.0,
            }
        ],
        factory=lambda: client,
        feature_cols=["spend_30d", "txn_count_30d"],
        onehot_categories=["UK", "DE"],
        ttl=60,
    )
    snap = OnlineFeatureService(client).get_snapshot(7)
    assert snap["spend_30d"] == 4.25
    assert snap["country__DE"] == 1.0 and snap["country__UK"] == 0.0
    assert snap["meta:t_ref"] == "2024-02-01T09:00:00"
    assert client.ttls["fs:customer:7"] == 60

"""Serving composition: online->offline fallback chain + debug endpoints
(reference ``serving/feature_service.py:69-89``, ``serving/app.py:120-146``).
"""

from __future__ import annotations

import glob

import pytest

from retailfeaturestore_spark.jobs import build_feature_views, ingest_to_bronze
from retailfeaturestore_spark.serving.app import (
    ServingContext,
    debug_log_state,
    debug_write_test,
    health_state,
    predict_once,
)
from retailfeaturestore_spark.serving.feature_service import (
    FallbackFeatureService,
    OfflineFeatureService,
    OnlineFeatureService,
)
from retailfeaturestore_spark.ml.scoring import LinearStubModel
from retailfeaturestore_spark.sources.redis_sink import DictRedis


@pytest.fixture(scope="module")
def gold_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("serving")
    rows = [
        ("INV0", "sku0", "d", "2", "2011-01-10 10:00:00", "3.5", "1", "UK"),
        ("INV1", "sku1", "d", "2", "2011-02-10 10:00:00", "3.5", "1", "UK"),
        ("INV9", "skuX", "d", "1", "2011-02-01 09:00:00", "9.0", "2", "FR"),
    ]
    raw = spark.createDataFrame(
        rows,
        ["Invoice", "StockCode", "Description", "Quantity",
         "InvoiceDate", "Price", "Customer ID", "Country"],
    )
    bronze, gold = str(base / "bronze"), str(base / "gold")
    ingest_to_bronze(spark, raw, bronze)
    build_feature_views(spark, bronze, gold)
    return gold


@pytest.fixture()
def services(gold_dir):
    client = DictRedis()
    # Materialize ONLY customer 1 online: customer 2 is the cold key that
    # must fall back to offline.
    client.hset(
        "fs:customer:1",
        {
            "spend_30d": "7.0",
            "txn_count_30d": "2.0",
            "meta:t_ref": "2011-02-10T10:00:00+00:00",
            "meta:country": "UK",
        },
    )
    online = OnlineFeatureService(client)
    offline = OfflineFeatureService(gold_dir)
    return FallbackFeatureService(online, offline), online, offline


def test_online_hit_serves_decoded_row(services):
    fb, _, _ = services
    snap = fb.get_snapshot(1)
    assert snap["spend_30d"] == 7.0            # typed decode
    assert snap["country"] == "UK"             # meta:country -> country
    assert str(snap["t_ref"]).startswith("2011-02-10")  # meta:t_ref -> ts


def test_online_miss_falls_back_to_offline(services):
    fb, _, offline = services
    snap = fb.get_snapshot(2)                  # cold key: not in the store
    assert snap is not None
    assert snap == offline.get_snapshot(2)


def test_historical_as_of_bypasses_online(services):
    fb, _, _ = services
    # online holds only the LATEST snapshot; time travel must go offline
    snap = fb.get_snapshot(1, as_of="2011-01-15")
    assert str(snap["t_ref"]).startswith("2011-01-10")


def test_predict_through_fallback_chain(services, tmp_path):
    fb, _, _ = services
    ctx = ServingContext(
        service=fb,
        model=LinearStubModel(weights=(0.1, 0.1)),
        feature_names=["spend_30d", "txn_count_30d"],
        pred_log_dir=str(tmp_path / "preds"),
    )
    hot = predict_once(ctx, 1)                 # served from the online row
    assert 0.0 <= hot["probability"] <= 1.0 and hot["log_error"] is None
    cold = predict_once(ctx, 2)                # served via offline fallback
    assert "error" not in cold
    missing = predict_once(ctx, 999)           # absent everywhere
    assert missing["error"] == "customer not found"


def test_health_reports_online_and_offline_state(services, gold_dir):
    fb, _, offline = services
    ctx = ServingContext(
        service=fb,
        model=LinearStubModel(weights=(0.1,)),
        feature_names=["spend_30d"],
    )
    h = health_state(ctx)
    assert h["status"] == "ok" and h["mode"] == "online+offline"
    assert h["store_ping"] is True and h["online_keys"] == 1  # only customer 1
    assert h["offline_rows"] == offline.row_count()
    # offline-only context degrades to the offline payload
    h2 = health_state(
        ServingContext(
            service=OfflineFeatureService(gold_dir),
            model=LinearStubModel(weights=(0.1,)),
            feature_names=["spend_30d"],
        )
    )
    assert h2 == {"status": "ok", "mode": "offline", "rows": offline.row_count()}


def test_debug_endpoints(services, tmp_path):
    fb, _, _ = services
    ctx = ServingContext(
        service=fb,
        model=LinearStubModel(weights=(0.1,)),
        feature_names=["spend_30d"],
        pred_log_dir=str(tmp_path / "preds"),
    )
    state0 = debug_log_state(ctx)
    assert state0["pred_files"] == 0 and state0["feature_files"] > 0
    wrote = debug_write_test(ctx)
    assert glob.glob(wrote["wrote"])
    state1 = debug_log_state(ctx)
    assert state1["pred_files"] == 1
    # write probe rows are full pred-log schema rows (reference parity)
    import pandas as pd

    row = pd.read_parquet(wrote["wrote"]).iloc[0]
    assert row["model_artifact"] == "test" and row["prediction"] == 0


def test_app_from_env_builds_context_to_the_fastapi_gate(tmp_path, monkeypatch):
    """The container entrypoint's env wiring (MODEL_DIR/GOLD_DIR/
    FEATURE_BACKEND) must construct the full serving context and reach
    create_app; with fastapi absent in this environment the factory's
    import gate raises — proving everything BEFORE the gate (artifact
    load, offline service, threshold parse) works from env alone."""
    import pandas as pd
    import pytest

    from retailfeaturestore_spark.ml.artifacts import save_artifacts
    from retailfeaturestore_spark.ml.scoring import LinearStubModel
    from retailfeaturestore_spark.serving.app import app_from_env

    model_dir = tmp_path / "model"
    save_artifacts(
        str(model_dir), LinearStubModel(weights=(0.1, 0.2)),
        ["spend_30d", "txn_count_30d"], {"auc": 0.5},
    )
    gold = tmp_path / "gold"
    gold.mkdir()
    pd.DataFrame(
        {"customer_id": [1], "t_ref": [pd.Timestamp("2024-01-01")],
         "spend_30d": [1.0], "txn_count_30d": [2.0]}
    ).to_parquet(gold / "part-0.parquet")

    monkeypatch.setenv("MODEL_DIR", str(model_dir))
    monkeypatch.setenv("GOLD_DIR", str(gold))
    monkeypatch.setenv("FEATURE_BACKEND", "offline")
    monkeypatch.setenv("THRESHOLD", "0.75")
    try:
        import fastapi  # noqa: F401
    except ImportError:
        with pytest.raises(RuntimeError, match="fastapi"):
            app_from_env()
    else:  # environments with the serving extra get the real app
        app = app_from_env()
        assert app is not None


def test_refresh_failure_keeps_the_previous_snapshot(tmp_path):
    """A reload that raises (here: the gold files moved away mid-overwrite)
    must leave the earlier snapshot serving, not an empty cache."""
    import pandas as pd

    gold = tmp_path / "gold"
    part = gold / "date=2011-01-10"
    part.mkdir(parents=True)
    pd.DataFrame(
        {"customer_id": [1, 2], "t_ref": pd.to_datetime(["2011-01-10", "2011-01-10"]),
         "spend_30d": [7.0, 9.0]}
    ).to_parquet(part / "part-0.parquet")
    offline = OfflineFeatureService(str(gold))
    before = offline.get_snapshot(1)
    assert before["spend_30d"] == 7.0 and offline.row_count() == 2

    (part / "part-0.parquet").rename(tmp_path / "moved.parquet")
    with pytest.raises(FileNotFoundError):
        offline.refresh()
    assert offline.get_snapshot(1) == before
    assert offline.row_count() == 2


def test_failed_log_write_never_fails_the_request(tmp_path):
    """A prediction-log write that raises is reported in ``log_error``; the
    request still returns its probability."""
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("x")

    class OneRow:
        def get_snapshot(self, entity_id, as_of=None):
            return {"customer_id": entity_id, "spend_30d": 2.0}

    ctx = ServingContext(
        service=OneRow(),
        model=LinearStubModel(weights=(0.1,)),
        feature_names=["spend_30d"],
        pred_log_dir=str(blocker / "preds"),
    )
    out = predict_once(ctx, 1)
    assert abs(out["probability"] - 0.2) < 1e-12
    assert out["log_path"] is None
    assert out["log_error"]

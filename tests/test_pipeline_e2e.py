"""Full-pipeline e2e (SURVEY.md §5.2.4): synthetic raw orders -> bronze ->
gold -> online materialization -> training artifacts -> serving predict ->
pred log, asserting the feature contract end to end: serving and batch
scoring see exactly the model inputs training saw."""

from __future__ import annotations

import glob
import json
import os

import pandas as pd

import retailfeaturestore_spark.ml.training as training
from retailfeaturestore_spark.jobs import (
    build_feature_views,
    ingest_to_bronze,
    make_training,
    materialize_online_job,
)
from retailfeaturestore_spark.ml.artifacts import load_model
from retailfeaturestore_spark.ml.scoring import ScoredModel, score_batch
from retailfeaturestore_spark.operators.pit import latest_per_key
from retailfeaturestore_spark.serving.app import ServingContext, predict_once
from retailfeaturestore_spark.serving.feature_service import (
    OfflineFeatureService,
    row_to_vector,
)
from retailfeaturestore_spark.sources.pred_log import flush_predictions
from retailfeaturestore_spark.sources.redis_sink import DictRedis


def test_pipeline_end_to_end(spark, tmp_path, monkeypatch):
    # customer 1: steady purchaser across 3 months; customer 2: single event;
    # customer 3: cancels-only; customer 4: a multi-word country
    rows = [
        ("INV0", "sku0", "d", "2", "2011-01-10 10:00:00", "3.5", "1", "UK"),
        ("INV1", "sku1", "d", "2", "2011-02-10 10:00:00", "3.5", "1", "UK"),
        ("INV2", "sku2", "d", "2", "2011-03-10 10:00:00", "3.5", "1", "UK"),
        ("INV9", "skuX", "d", "1", "2011-02-01 09:00:00", "9.0", "2", "FR"),
        ("C100", "skuY", "d", "-1", "2011-02-02 09:00:00", "4.0", "3", "UK"),
        ("INV4", "sku4", "d", "3", "2011-01-20 11:00:00", "2.0", "4", "United Kingdom"),
        ("INV5", "sku5", "d", "1", "2011-03-01 11:00:00", "5.0", "4", "United Kingdom"),
    ]
    raw = spark.createDataFrame(
        rows,
        ["Invoice", "StockCode", "Description", "Quantity",
         "InvoiceDate", "Price", "Customer ID", "Country"],
    )
    bronze = str(tmp_path / "bronze")
    gold = str(tmp_path / "gold")
    model_dir = str(tmp_path / "model")
    preds = str(tmp_path / "preds")

    ingest_to_bronze(spark, raw, bronze)
    assert glob.glob(f"{bronze}/date=2011-01-10/*.parquet")  # hive partitioning

    build_feature_views(spark, bronze, gold)
    gold_df = spark.read.parquet(gold)
    cols = set(gold_df.columns)
    for base in ("txn_count", "spend", "unique_skus", "avg_basket_value", "cancel_rate"):
        for w in ("1d", "7d", "30d"):
            assert f"{base}_{w}" in cols
    assert {"tenure_days", "country", "customer_id", "t_ref"} <= cols
    # cancels-only customer: cancel_rate 1, spend 0
    c3 = gold_df.where("customer_id = 3").collect()[0]
    assert c3.cancel_rate_30d == 1.0 and c3.spend_30d == 0.0
    assert c3.country == "UK"  # A2 mode attached

    # online materialization through real foreachPartition
    sink_dir = str(tmp_path / "sink")
    os.makedirs(sink_dir)

    class FileRedis(DictRedis):
        def hset(self, key, mapping):
            with open(f"{sink_dir}/{key.replace(':', '_')}.json", "w") as f:
                json.dump({"key": key, **mapping}, f)

    n = materialize_online_job(
        spark, gold, ["spend_30d", "txn_count_30d"], FileRedis, onehot_categories=["UK", "FR"]
    )
    assert n == 4 and len(glob.glob(f"{sink_dir}/*.json")) == 4

    # training artifacts; keep the keys on the collected training frame so
    # each matrix row can be matched to its gold row
    seen = {}
    collect = training.collect_training_frame

    def collect_with_keys(ts, columns, **kw):
        seen["pdf"] = collect(ts, [*columns, "customer_id", "t_ref"], **kw)
        return seen["pdf"]

    monkeypatch.setattr(training, "collect_training_frame", collect_with_keys)
    model, feature_names, paths = make_training(spark, bronze, gold, model_dir)
    assert os.path.exists(paths["model"]) and os.path.exists(paths["feature_names"])
    loaded, names2 = load_model(model_dir)
    assert names2 == feature_names and names2
    # one-hots are named after the raw value, as serving re-derives them
    assert {"country__UK", "country__FR", "country__United Kingdom"} <= set(feature_names)

    # serving's vector for each customer's latest gold row is the row the
    # model was trained on
    offline = OfflineFeatureService(gold)
    train_rows = seen["pdf"].set_index(["customer_id", "t_ref"])[feature_names]
    for cid in (1, 2, 3, 4):
        snap = offline.get_snapshot(cid)
        trained = [float(v) for v in train_rows.loc[(cid, snap["t_ref"])]]
        assert row_to_vector(snap, feature_names) == trained, cid

    # serving: as-of lookup + scoring + pred log
    ctx = ServingContext(
        service=offline,
        model=loaded,
        feature_names=feature_names,
        pred_log_dir=preds,
    )
    out = predict_once(ctx, 1)
    assert 0.0 <= out["probability"] <= 1.0
    flush_predictions()
    assert out["log_path"] and os.path.exists(out["log_path"])
    logged = pd.read_parquet(out["log_path"]).iloc[0]
    assert logged["customer_id"] == 1 and logged["probability"] == out["probability"]
    assert out["log_error"] is None
    # time travel: as-of before the second purchase sees only the first
    early = predict_once(ctx, 1, t_ref="2011-01-15")
    assert early["t_ref"].startswith("2011-01-10")
    # unknown entity
    missing = predict_once(ctx, 999)
    assert "error" in missing

    # batch scoring of the latest rows gives the served probability
    latest = latest_per_key(gold_df, "customer_id", "t_ref", "t_ref")
    batch = score_batch(spark, latest, ScoredModel(loaded, tuple(feature_names)))
    assert set(batch.columns) == set(latest.columns) | {"probability", "prediction"}
    for r in batch.select("customer_id", "probability").collect():
        served = predict_once(ctx, r.customer_id)["probability"]
        assert abs(served - r.probability) < 1e-12, r.customer_id

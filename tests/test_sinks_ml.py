"""Online-store sink contract, prediction log round trip, pandas_udf scoring."""

from __future__ import annotations

import json
import glob
import os
from datetime import datetime

import pandas as pd

from retailfeaturestore_spark.ml.scoring import LinearStubModel, ScoredModel, score_batch
from retailfeaturestore_spark.sources.pred_log import (
    flush_predictions,
    log_prediction,
)
from retailfeaturestore_spark.sources.redis_sink import (
    DictRedis,
    _row_fields,
    materialize_online,
)


def test_redis_field_contract():
    """Exact field map parity: stringified floats, one-hots, meta:* ISO."""
    row = {
        "customer_id": 17,
        "t_ref": datetime(2024, 1, 2, 3, 4, 5),
        "country": "UK",
        "spend_30d": 12.5,
        "txn_count_30d": None,
    }
    fields = _row_fields(row, ["spend_30d", "txn_count_30d"], ["UK", "FR"])
    assert fields["spend_30d"] == "12.5"
    assert fields["txn_count_30d"] == "0.0"      # null -> stringified zero
    assert fields["country__UK"] == "1" and fields["country__FR"] == "0"
    assert fields["meta:t_ref"] == "2024-01-02T03:04:05"
    assert fields["meta:country"] == "UK"
    assert "meta:updated_at" in fields


def test_materialize_online_foreachpartition(spark, tmp_path):
    """True foreachPartition execution: executors append JSON per entity to a
    shared dir (stands in for the Redis pipeline across worker processes)."""
    out_dir = str(tmp_path / "sink")
    os.makedirs(out_dir, exist_ok=True)

    class FileRedis(DictRedis):
        def hset(self, key, mapping):
            with open(f"{out_dir}/{key.replace(':', '_')}.json", "w") as f:
                json.dump({"key": key, **mapping}, f)

    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), "UK", 10.0), (2, datetime(2024, 1, 2), "FR", 20.0)],
        "customer_id int, t_ref timestamp, country string, spend_30d double",
    )
    n = materialize_online(
        df, ["spend_30d"], onehot_categories=["UK", "FR"], client_factory=FileRedis
    )
    assert n == 2  # hashes written, summed over the partitions' publishes
    files = sorted(glob.glob(f"{out_dir}/*.json"))
    assert len(files) == 2
    rec = json.load(open(files[0]))
    assert rec["key"] == "fs:customer:1" and rec["spend_30d"] == "10.0"


def test_materialize_online_ttl_comes_from_the_environment(spark, tmp_path, monkeypatch):
    """``REDIS_TTL_SECONDS`` is the one TTL route (the reference's
    ``jobs/materialize_online.py:55-56``): set, every published key gets
    that TTL; unset, no key gets one.  Partitions publish in worker
    processes, so the fake records each call in a file."""
    df = spark.createDataFrame(
        [(i, datetime(2024, 1, i), "UK", float(i)) for i in range(1, 7)],
        "customer_id int, t_ref timestamp, country string, spend_30d double",
    ).repartition(3)
    keys = {f"fs:customer:{i}" for i in range(1, 7)}

    def publish(run):
        out_dir = tmp_path / run
        out_dir.mkdir()

        class FileRedis(DictRedis):
            def hset(self, key, mapping):
                (out_dir / f"hset_{key.replace(':', '_')}").write_text(key)

            def expire(self, key, ttl):
                (out_dir / f"expire_{key.replace(':', '_')}").write_text(
                    json.dumps([key, ttl])
                )

        assert materialize_online(df, ["spend_30d"], client_factory=FileRedis) == 6
        written = {p.read_text() for p in out_dir.glob("hset_*")}
        ttls = dict(json.loads(p.read_text()) for p in out_dir.glob("expire_*"))
        return written, ttls

    monkeypatch.setenv("REDIS_TTL_SECONDS", "60")
    written, ttls = publish("with_ttl")
    assert written == keys and ttls == {k: 60 for k in keys}

    monkeypatch.delenv("REDIS_TTL_SECONDS")
    written, ttls = publish("without_ttl")
    assert written == keys and ttls == {}


def test_online_onehot_fields_agree_with_meta_country(spark, tmp_path):
    """Every stored ``country__{c}`` field must agree with ``meta:country``:
    serving lets a present field win over the one-hot it re-derives from
    ``meta:country``, so a disagreeing field would change a prediction."""
    out_dir = str(tmp_path / "sink")
    os.makedirs(out_dir, exist_ok=True)

    class FileRedis(DictRedis):
        def hset(self, key, mapping):
            with open(f"{out_dir}/{key.replace(':', '_')}.json", "w") as f:
                json.dump({"key": key, **mapping}, f)

    cats = ["United Kingdom", "France", "EIRE", "Germany"]
    countries = cats + ["Japan", None]  # one unlisted country, one null
    gold = [
        (cid, datetime(2024, 1, 1 + cid % 28), countries[cid % len(countries)],
         float(cid))
        for cid in range(1, 25)
    ]
    df = spark.createDataFrame(
        gold, "customer_id int, t_ref timestamp, country string, spend_30d double"
    ).repartition(3)
    n = materialize_online(
        df, ["spend_30d"], onehot_categories=cats, client_factory=FileRedis
    )
    assert n == len(gold)
    stored = {}
    for path in glob.glob(f"{out_dir}/*.json"):
        rec = json.load(open(path))
        stored[rec["key"]] = rec
    assert len(stored) == len(gold)
    for cid, _, country, _ in gold:
        rec = stored[f"fs:customer:{cid}"]
        assert rec["meta:country"] == (country or "")
        for c in cats:
            want = 1.0 if country == c else 0.0
            assert float(rec[f"country__{c}"]) == want, (cid, c)
            assert float(rec[f"country__{c}"]) == (
                1.0 if rec["meta:country"] == c else 0.0
            ), (cid, c)


def test_pred_log_single_and_bulk(spark, tmp_path):
    p = log_prediction(
        str(tmp_path / "preds"),
        customer_id=5,
        probability=0.7,
        threshold=0.5,
        latency_ms=3.2,
        model_artifact="m1",
        features={"spend_30d": 1.5},
    )
    flush_predictions()
    assert os.path.exists(p) and "/date=" in p and p.endswith(".parquet")
    row = pd.read_parquet(p).iloc[0]
    assert row["customer_id"] == 5 and row["probability"] == 0.7
    got = spark.read.parquet(str(tmp_path / "preds")).collect()[0]
    assert got.prediction == 1 and got.feat__spend_30d == 1.5


def test_score_batch_pandas_udf(spark):
    model = ScoredModel(
        model=LinearStubModel(weights=(0.1, 0.2), bias=0.0),
        feature_names=("f1", "f2"),
    )
    df = spark.createDataFrame(
        [(1, 2.0, 1.0), (2, None, 4.0), (3, 20.0, 0.0)],
        "id int, f1 double, f2 double",
    )
    out = {r.id: r for r in score_batch(spark, df, model, threshold=0.5).collect()}
    assert abs(out[1].probability - 0.4) < 1e-12       # 0.1*2 + 0.2*1
    assert abs(out[2].probability - 0.8) < 1e-12       # null f1 -> 0
    assert out[3].probability == 1.0                    # clipped
    assert out[1].prediction == 0 and out[2].prediction == 1


def test_score_batch_fills_missing_contract_columns(spark):
    model = ScoredModel(model=LinearStubModel(weights=(1.0, 1.0)), feature_names=("a", "b"))
    df = spark.createDataFrame([(1, 0.25)], "id int, a double")  # no column b
    out = score_batch(spark, df, model).collect()[0]
    assert abs(out.probability - 0.25) < 1e-12


def test_online_feature_service_typed_decode():
    from retailfeaturestore_spark.serving.feature_service import OnlineFeatureService

    class FakeClient:
        def hgetall(self, key):
            assert key == "fs:customer:7"
            return {
                b"spend_30d": b"12.5",
                b"country__UK": b"1",
                b"meta:t_ref": b"2024-01-02T03:04:05",
                b"weird": b"not-a-float",
            }

    svc = OnlineFeatureService(FakeClient())
    snap = svc.get_snapshot(7)
    assert snap["spend_30d"] == 12.5            # float parse
    assert snap["country__UK"] == 1.0
    assert snap["meta:t_ref"] == "2024-01-02T03:04:05"  # meta stays string
    assert snap["weird"] == "not-a-float"       # string fallback

    class EmptyClient:
        def hgetall(self, key):
            return {}

    assert OnlineFeatureService(EmptyClient()).get_snapshot(1) is None

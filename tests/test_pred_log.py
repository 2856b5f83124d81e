"""The buffered prediction log behind ``predict_once``: thread safety, the
crash-loss bound, failed flushes and the exit flush."""

from __future__ import annotations

import glob
import os
import shutil
import sys
import threading

import pandas as pd

from retailfeaturestore_spark.ml.scoring import LinearStubModel
from retailfeaturestore_spark.serving.app import ServingContext, predict_once
from retailfeaturestore_spark.sources import pred_log
from retailfeaturestore_spark.sources.pred_log import FLUSH_ROWS, flush_predictions


class AnyRow:
    def get_snapshot(self, entity_id, as_of=None):
        return {"customer_id": entity_id, "spend_30d": 2.0, "txn_count_30d": 3.0}


def context(log_dir: str, names: list[str]) -> ServingContext:
    return ServingContext(
        service=AnyRow(),
        model=LinearStubModel(weights=tuple(0.1 for _ in names), bias=0.0),
        feature_names=names,
        pred_log_dir=log_dir,
    )


def parquet_files(log_dir) -> list[str]:
    return sorted(glob.glob(os.path.join(str(log_dir), "**", "*.parquet"), recursive=True))


def test_concurrent_requests_log_every_row_once(tmp_path):
    log_dir = str(tmp_path / "preds")
    narrow = context(log_dir, ["spend_30d"])
    wide = context(log_dir, ["spend_30d", "txn_count_30d"])
    errors = []

    def serve(t: int):
        ctx = narrow if t % 2 else wide
        for i in range(500):
            out = predict_once(ctx, t * 1000 + i)
            if out["log_error"] is not None:
                errors.append(out["log_error"])

    threads = [threading.Thread(target=serve, args=(t,)) for t in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads inside append and flush
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    flush_predictions()
    assert errors == []

    seen = []
    for f in parquet_files(log_dir):
        df = pd.read_parquet(f)
        feats = [c for c in df.columns if c.startswith("feat__")]
        # one column set per file: every row has every feature column, and
        # came from the threads that use that contract
        assert df[feats].notna().all().all(), f
        want_odd = feats == ["feat__spend_30d"]
        assert ((df["customer_id"] // 1000) % 2 == 1).eq(want_odd).all(), f
        seen += df["customer_id"].tolist()
    assert len(seen) == 2000
    assert sorted(seen) == [t * 1000 + i for t in range(4) for i in range(500)]


def test_unflushed_rows_stay_in_memory_up_to_the_batch_size(tmp_path, monkeypatch):
    """The crash-loss bound: FLUSH_ROWS - 1 rows can be buffered with
    nothing on disk; the FLUSH_ROWS-th writes them all in one file."""
    monkeypatch.setattr(pred_log, "FLUSH_SECONDS", 3600.0)
    log_dir = tmp_path / "preds"
    ctx = context(str(log_dir), ["spend_30d"])
    paths = {predict_once(ctx, i)["log_path"] for i in range(FLUSH_ROWS - 1)}
    assert len(paths) == 1
    assert parquet_files(log_dir) == []
    last = predict_once(ctx, FLUSH_ROWS)
    assert parquet_files(log_dir) == [last["log_path"]] == list(paths)
    assert len(pd.read_parquet(last["log_path"])) == FLUSH_ROWS


def test_failed_flush_sets_log_error_and_still_answers(tmp_path, monkeypatch):
    monkeypatch.setattr(pred_log, "FLUSH_SECONDS", 3600.0)
    log_dir = tmp_path / "preds"
    ctx = context(str(log_dir), ["spend_30d"])
    first = predict_once(ctx, 1)
    assert first["log_error"] is None
    # the open batch's directory becomes a regular file before it flushes
    shutil.rmtree(log_dir)
    log_dir.write_text("x")
    outs = [predict_once(ctx, i) for i in range(2, FLUSH_ROWS + 1)]
    assert all(o["log_error"] is None for o in outs[:-1])
    assert outs[-1]["log_error"] and f"dropped {FLUSH_ROWS}" in outs[-1]["log_error"]
    assert outs[-1]["log_path"] is None
    assert abs(outs[-1]["probability"] - 0.2) < 1e-12
    # the next request cannot open a batch there either, and still answers
    nxt = predict_once(ctx, 9)
    assert nxt["log_error"] and abs(nxt["probability"] - 0.2) < 1e-12


def test_exit_flush_into_a_removed_tree_warns_and_creates_nothing(tmp_path, capsys):
    log_dir = tmp_path / "work" / "preds"
    ctx = context(str(log_dir), ["spend_30d"])
    for i in range(3):
        assert predict_once(ctx, i)["log_error"] is None
    shutil.rmtree(tmp_path / "work")
    pred_log._flush_at_exit()
    warned = [line for line in capsys.readouterr().err.splitlines() if str(log_dir) in line]
    assert len(warned) == 1 and "dropped 3 prediction rows" in warned[0]
    assert not (tmp_path / "work").exists()
    # the batch is gone: a second exit flush has nothing left to report
    pred_log._flush_at_exit()
    assert str(log_dir) not in capsys.readouterr().err

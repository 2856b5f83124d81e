"""The benchmark's own tests, on the tiny store:

    python3 -m pytest perfbench -q

Each workload runs end to end with every check passing, a planted wrong
answer is counted as failed, the traced run prints every per-layer metric,
and the command refuses to run without the package beside it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workbook  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--size", "tiny", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(*args: str) -> dict:
    p = bench(*args)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_runs_with_every_check_passing(workload):
    r = result("--workload", workload, "--seed", "1", "--trace", "0")
    assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 4
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    assert all(v["value"] > 0 for v in r["metrics"].values()), r["metrics"]


@pytest.mark.parametrize("workload,fault", [("late_repair", "repair"),
                                            ("late_repair", "windows"),
                                            ("serve_predict", "serve")])
def test_planted_wrong_answer_raises_error_rate(workload, fault):
    r = result("--workload", workload, "--seed", "2", "--trace", "0", "--fault", fault)
    assert r["correct"] is False and r["failed"] >= 1


def test_traced_run_prints_every_per_layer_metric():
    r = result("--workload", "serve_predict", "--seed", "3", "--trace", "1")
    assert r["correct"] is True
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    m = {k: v["value"] for k, v in r["metrics"].items()}
    for name in ("jobs.ingest_s", "jobs.features_s", "jobs.train_s", "ml.score_s",
                 "ml.predict_ms", "sources.pred_log.write_p50_ms", "spark.tasks.features",
                 "io.files_written.gold", "serving.lookup_online_p50_ms"):
        assert m[name] > 0, name
    assert 0 < m["serving.online_hit_rate"] <= 1


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench("--workload", "late_repair", "--seed", "1", "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_window_oracle_on_hand_made_lines():
    day = 1440
    lines = workbook.Lines(
        invoice=["1", "C2", "3", "4"], sku=np.zeros(4, np.int64),
        qty=np.array([2, -1, 1, 3]), minute=np.array([600, 700, 600 + 7 * day, 600 + 8 * day]),
        price_cents=np.array([150, 150, 1000, 200]), cust=np.array([9, 9, 9, 9]),
        country=np.zeros(4, np.int64))
    f = workbook.window_features(lines, 9, {"1d": 1, "7d": 7})
    assert list(f.index) == [600, 700, 600 + 7 * day, 600 + 8 * day]
    assert list(f["txn_count_1d"]) == [1, 1, 1, 2]
    assert list(f["txn_count_7d"]) == [1, 1, 2, 2]  # both ends closed
    assert list(f["spend_7d"]) == [3.0, 3.0, 13.0, 16.0]  # the cancel adds nothing
    assert list(f["tenure_days"]) == [0, 0, 7, 8]


def test_generator_is_seeded_and_its_totals_are_exact():
    a = workbook.generate(5, 2_000, 300, n_days=48)
    b = workbook.generate(5, 2_000, 300, n_days=48)
    assert a.base.invoice == b.base.invoice
    assert np.array_equal(a.base.cust, b.base.cust)
    day_a, late_a = workbook.late_slice(a, np.random.default_rng((7, 0)))
    day_b, late_b = workbook.late_slice(b, np.random.default_rng((7, 0)))
    assert day_a == day_b and late_a.invoice == late_b.invoice

    keep = a.base.cust >= 0
    cents = sum(int(q) * int(p) for q, p in zip(a.base.qty[keep], a.base.price_cents[keep]))
    totals = workbook.bronze_totals(a.base)
    assert totals["rows"] == int(keep.sum()) and totals["amount"] == cents / 100.0
    shape = workbook.shape_stats(a.base)
    assert shape["quarantine_rows"] == int((~keep).sum()) > 0
    assert shape["cancel_rows"] > 0 and 0 < shape["whale_share"] < 1

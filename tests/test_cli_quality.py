"""CLI scoring surface and quality-check gate."""

from __future__ import annotations

import json

import pytest

from retailfeaturestore_spark.jobs import build_feature_views, ingest_to_bronze, make_training
from retailfeaturestore_spark.operators.quality_checks import (
    checks_report,
    expect_between,
    expect_not_null,
    expect_unique_key,
)
from retailfeaturestore_spark.serving.cli import main as cli_main


def run_checks(df, checks) -> dict:
    """The suite's one-pass report, collected:
    ``{'passed', 'n_rows', 'violations': {check: count}}``."""
    rows = checks_report(df, checks).collect()
    violations = {r["check"]: int(r["violations"] or 0) for r in rows}
    return {
        "passed": all(v == 0 for v in violations.values()),
        "n_rows": int(rows[0]["n_rows"]),
        "violations": violations,
    }


def _mini_gold(spark, tmp_path):
    rows = [
        ("I1", "s1", "d", "2", "2011-01-10 10:00:00", "3.5", "1", "UK"),
        ("I2", "s2", "d", "1", "2011-02-10 10:00:00", "4.0", "1", "UK"),
        ("I3", "s3", "d", "1", "2011-02-11 10:00:00", "5.0", "2", "FR"),
    ]
    raw = spark.createDataFrame(
        rows,
        ["Invoice", "StockCode", "Description", "Quantity",
         "InvoiceDate", "Price", "Customer ID", "Country"],
    )
    ingest_to_bronze(spark, raw, str(tmp_path / "bronze"))
    build_feature_views(spark, str(tmp_path / "bronze"), str(tmp_path / "gold"))
    make_training(spark, str(tmp_path / "bronze"), str(tmp_path / "gold"), str(tmp_path / "model"))
    return str(tmp_path / "gold"), str(tmp_path / "model")


@pytest.mark.slow  # driver verify-window fit (r14): see pyproject addopts
def test_cli_single_and_batch(spark, tmp_path, capsys):
    gold, model_dir = _mini_gold(spark, tmp_path)
    rc = cli_main(["--gold", gold, "--model-dir", model_dir,
                   "single", "--customer-id", "1"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["customer_id"] == 1 and 0.0 <= out["probability"] <= 1.0

    rc = cli_main(["--gold", gold, "--model-dir", model_dir,
                   "batch", "--out", str(tmp_path / "scores")])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["rows"] == 2  # counted on the write
    back = spark.read.option("header", "true").csv(str(tmp_path / "scores"))
    assert back.count() == 2  # one latest row per customer
    assert {"customer_id", "probability", "prediction", "t_ref"} <= set(back.columns)

    rc = cli_main(["--gold", gold, "--model-dir", model_dir,
                   "single", "--customer-id", "404"])
    assert rc == 1  # missing customer -> nonzero exit


def test_quality_checks_single_pass(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (2, 200.0)], "id int, v double"
    )
    report = run_checks(
        df,
        [expect_not_null("v"), expect_between("v", 0, 100), expect_unique_key("id")],
    )
    assert report["n_rows"] == 3 and not report["passed"]
    assert report["violations"]["not_null(v)"] == 1
    assert report["violations"]["between(v,0,100)"] == 2  # null + 200.0
    assert report["violations"]["unique_key(id)"] == 1

    clean = spark.createDataFrame([(1, 5.0), (2, 6.0)], "id int, v double")
    assert run_checks(clean, [expect_not_null("v"), expect_unique_key("id")])["passed"]


def test_unique_key_null_components_are_violations(spark):
    """NULL key rows violate uniqueness in BOTH compile paths: the
    single-level count - count_distinct drops null tuples from the distinct
    side, and the two-level groupBy path must not let them pass as regular
    groups (ADVICE r3)."""
    df = spark.createDataFrame(
        [(1, 1.0), (None, 2.0), (None, 3.0), (2, 4.0), (2, 5.0)],
        "id int, v double",
    )
    # 2 null-key rows + 1 duplicate of id=2, with and without co-checks
    rep = run_checks(df, [expect_not_null("v"), expect_unique_key("id")])
    assert rep["violations"]["unique_key(id)"] == 3
    assert run_checks(df, [expect_unique_key("id")])["violations"]["unique_key(id)"] == 3

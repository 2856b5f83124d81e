"""Offline scoring CLI — ``serving/local_infer.py`` parity (SURVEY.md §2.1 S7).

The reference ships a Typer CLI with ``single`` (one customer, optional
as-of) and ``batch`` (head-n scoring -> CSV) commands over the offline
snapshot; same commands here on argparse (typer not installed), same flow:
snapshot lookup -> contract alignment -> predict_proba -> print/CSV.

Batch mode scores distributed (pandas_udf via ``ml.scoring.score_batch``)
and writes CSV through the Spark sink — the reference loops rows in Python
(``serving/local_infer.py:105-116``).
"""

from __future__ import annotations

import argparse
import json

__all__ = ["main", "build_parser"]


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="rfs-infer", description="offline scoring CLI")
    p.add_argument("--gold", required=True, help="gold feature-view directory")
    p.add_argument("--model-dir", required=True, help="artifact dir (model.pkl + feature_names.txt)")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("single", help="score one customer")
    s.add_argument("--customer-id", type=int, required=True)
    s.add_argument("--t-ref", default=None, help="as-of timestamp (time travel)")
    s.add_argument("--threshold", type=float, default=0.5)

    b = sub.add_parser("batch", help="score the latest snapshot of up to N customers -> CSV")
    b.add_argument("--out", required=True, help="output CSV directory")
    b.add_argument("--limit", type=int, default=None)
    b.add_argument("--threshold", type=float, default=0.5)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from ..ml.artifacts import load_model
    from .feature_service import OfflineFeatureService

    try:
        model, feature_names = load_model(args.model_dir)
    except FileNotFoundError as e:
        print(json.dumps({"error": f"model artifacts not found: {e}"}))
        return 2

    if args.cmd == "single":
        from .app import ServingContext, predict_once

        ctx = ServingContext(
            service=OfflineFeatureService(args.gold),
            model=model,
            feature_names=feature_names,
            threshold=args.threshold,
        )
        out = predict_once(ctx, args.customer_id, t_ref=args.t_ref)
        print(json.dumps(out, default=str))
        return 0 if "error" not in out else 1

    # batch: distributed scoring through the Spark plan
    from pyspark.sql import functions as F

    from ..io import write_csv
    from ..ml.scoring import ScoredModel, score_batch
    from ..operators.pit import latest_per_key
    from ..session import get_spark

    spark = get_spark("rfs-infer-batch")
    gold = spark.read.parquet(args.gold)
    latest = latest_per_key(gold, "customer_id", "t_ref", "t_ref")
    if args.limit:
        latest = latest.limit(args.limit)
    scored = score_batch(
        spark, latest, ScoredModel(model, tuple(feature_names)), threshold=args.threshold
    )
    write_csv(
        scored.select(
            "customer_id",
            F.col("t_ref").cast("string").alias("t_ref"),
            "probability",
            "prediction",
        ),
        args.out,
    )
    # count the written CSV, not `scored`, so the scoring plan runs once
    rows = spark.read.option("header", "true").csv(args.out).count()
    print(json.dumps({"out": args.out, "rows": rows}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

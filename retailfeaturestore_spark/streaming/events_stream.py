"""Windowed event counts over the events table (SURVEY.md §2.9).

The reference has NO streaming — its pred log is a synchronous per-request
parquet append (``serving/pred_logger.py:33-61``) and online materialization
is a full-batch snapshot publish (``jobs/materialize_online.py``); late data
is handled by re-running the whole batch.  This module keeps the batch form
of the event-time window aggregation (count / exact-decimal value sum /
error count per ``event_type`` per window) that the ``events_tumbling_daily``
query runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.expressions import money_sum


def batch_equivalent_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day event counts over a batch scan of ``events`` (tumbling
    windows are date_trunc-expressible, so the DuckDB oracle checks them)."""
    from ..io import load_table

    return (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 day").alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(F.col("value"), 6).alias("value_sum"),
            F.sum((F.col("event_type") == "error").cast("long")).alias("n_errors"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "value_sum",
            "n_errors",
        )
    )

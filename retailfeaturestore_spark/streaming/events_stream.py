"""Structured Streaming over the events-table pattern (SURVEY.md §2.9).

The reference has NO streaming — its pred log is a synchronous per-request
parquet append (``serving/pred_logger.py:33-61``) and online materialization
is a full-batch snapshot publish (``jobs/materialize_online.py``); late data
is handled by re-running the whole batch.  This module is the engine's
declared extension (SURVEY.md §7.1-M6): event-time streams with watermarks,
tumbling/sliding windows, and ``foreachBatch`` continuous materialization —
the same logical feature definitions as the batch engine, incrementally
maintained.

Design for scale:
- state is bounded by the watermark (late events beyond it are dropped and
  counted, not reprocessed-by-rerun like the reference);
- windowed aggregations use Spark's streaming state store (RocksDB provider
  on real clusters) with partial aggregation per micro-batch;
- sinks go through ``foreachBatch`` so the batch-side writers (Redis
  materializer, partitioned parquet) are reused verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.expressions import money_sum
from ..io import ensure_scan_confs

__all__ = [
    "read_events_stream",
    "windowed_event_counts",
    "stream_to_memory",
]


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream with the declared events schema.

    ``ts`` has shipped as both long nanoseconds and µs timestamps across
    testdata generations, so the physical dtype is sniffed with a batch
    schema peek (metadata-only — no data read) and normalized to
    TimestampType exactly like the batch reader (io.load_table).  A stream
    may legitimately be started on an empty/not-yet-created directory (files
    arrive later): the peek then can't infer a schema, and we fall back to
    the long-ns declaration — the current testdata generation's physical
    dtype, and the shape the pre-sniffing reader always declared.
    """
    from pyspark.errors import AnalysisException

    ensure_scan_confs(spark)
    try:
        peeked = spark.read.parquet(path).schema
        ts_is_long = isinstance(
            dict(zip(peeked.names, peeked.fields))["ts"].dataType, T.LongType
        )
    except AnalysisException:
        ts_is_long = True
    ts_decl = "long" if ts_is_long else "timestamp"
    stream = (
        spark.readStream.schema(
            f"event_id long, ts {ts_decl}, user_id long, event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    if ts_is_long:
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 day",
    watermark: str = "1 hour",
    amount_decimal: tuple[int, int] = (18, 6),
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (default) or sliding (``slide`` < ``window``) event-time
    window aggregation with a watermark.

    Same aggregate family as the batch window engine (count / exact-decimal
    value sum / error count per event_type) so streaming and batch results
    are directly comparable — the streaming tests assert equality against
    the batch formulation on a replayed file stream for both shapes.  A
    sliding window assigns each event to window/slide overlapping frames;
    state is still bounded by the watermark exactly as in the tumbling case.
    """
    _, s = amount_decimal
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(F.col("value"), s).alias("value_sum"),
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


def stream_to_memory(
    result: DataFrame, name: str, output_mode: str = "append"
) -> "StreamingQuery":  # noqa: F821
    """Drain a streaming result into an in-memory table (test/debug sink).
    Production sinks use foreachBatch -> (Redis | partitioned parquet)."""
    return (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def batch_equivalent_counts(
    spark: SparkSession, sf_dir: str, window: str = "1 day", slide: str | None = None
) -> DataFrame:
    """The SAME aggregation over a batch scan — used to verify streaming
    results replay-for-replay identical (and by the differential oracle:
    tumbling windows are date_trunc-expressible)."""
    from ..io import load_table

    return _batch_counts(load_table(spark, sf_dir, "events"), window, slide)


def _batch_counts(
    events: DataFrame, window: str = "1 day", slide: str | None = None
) -> DataFrame:
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.groupBy(win.alias("win"), F.col("event_type"))
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

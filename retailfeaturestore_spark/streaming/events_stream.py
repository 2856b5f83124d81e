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
    "dedup_events_stream",
    "purchase_attribution_stream",
    "session_window_counts",
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


def dedup_events_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Exactly-once event dedup on the event id with watermark-bounded state.

    Uses ``dropDuplicatesWithinWatermark`` (Spark 3.5+), NOT plain
    ``dropDuplicates``: with a key subset that excludes the event-time
    column, plain ``dropDuplicates`` never evicts its state even under a
    watermark (the eviction rule requires the watermark column inside the
    subset — exactly the gap SPARK-42931 added this operator for), so
    state would grow O(stream lifetime).  Here ids are evicted once the
    watermark passes their first sighting — O(watermark-horizon event
    volume) state — AND a redelivery whose event time was jittered inside
    the watermark window still dedups (a ``(event_id, ts)`` subset, the
    plain-API workaround, would treat it as a new event).  The
    at-least-once upstream (replayed files, Kafka redeliveries) becomes
    exactly-once downstream, the precondition for incremental feature
    materialization.

    The reference gets this implicitly by full-batch rebuilds
    (``jobs/build_feature_views.py`` reprocesses everything); here it is an
    incremental operator.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def purchase_attribution_stream(
    events: DataFrame, within: str = "1 hour", how: str = "inner"
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the clicks of
    the same user in the preceding ``within`` interval.

    Both sides are watermarked so the join state is bounded: a click can be
    evicted once the purchase-side watermark passes ``click.ts + within``.
    This is the streaming analogue of the batch as-of/interval join family
    (``operators/pit.py``) — same semantics, incrementally maintained.

    ``how="left_outer"`` additionally emits UNATTRIBUTED purchases (null
    click columns) — but only once the watermark has passed the end of the
    purchase's join window, because until then a matching click could still
    arrive.  That is the outer-join eviction contract: the null row is a
    watermark-certified "no click existed", not a timing artifact.
    ``how="right_outer"`` emits the other side's certified negatives
    instead: clicks that CONVERTED TO NO PURCHASE within the window (null
    purchase columns once the watermark passes ``click_ts + within``) —
    the abandoned-click / funnel-drop signal.  ``how="full_outer"`` emits
    both certified-negative populations plus the matches.  ``user_id`` is
    ``coalesce(purchase side, click side)``, so unmatched rows from either
    side stay keyed (r10, VERDICT r9 next-round #8).
    """
    canonical = how.lower().replace("_", "")
    if canonical not in (
        "inner", "left", "leftouter", "right", "rightouter", "full",
        "fullouter", "outer",
    ):
        raise ValueError(
            f"how={how!r}: purchase attribution supports 'inner', "
            "'left_outer', 'right_outer', and 'full_outer' (and Spark's "
            "aliases)"
        )
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", within)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", within)
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {within}")),
        how,
    ).select(
        "purchase_id", "purchase_ts", "purchase_value",
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
        "click_id", "click_ts",
    )


def session_window_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming sessionization via native ``session_window`` (dynamic-gap
    merging windows): per user, sessions close after ``gap`` of silence.

    The same operator family as the batch gap-sessionizer
    (``events_session_windows`` query) but incrementally maintained: the
    state store keeps one open session per (user, window) and merges
    overlapping sessions as events arrive; the watermark finalizes (emits
    and evicts) sessions once event time passes close + gap.  State is
    bounded by open sessions, not history.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(F.col("value"), 6).alias("value_sum"),
        )
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
            "value_sum",
        )
    )

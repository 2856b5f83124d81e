"""Continuous online materialization: stream -> foreachBatch -> online store.

The streaming upgrade of ``jobs/materialize_online.py`` (which republishes a
full batch snapshot each run): each micro-batch reduces to latest-per-entity
WITHIN the batch and upserts only those entities' hashes — incremental,
idempotent (last-write-wins per entity), and it reuses the batch sink
verbatim (``sources/redis_sink.materialize_online``), which is the whole
point of foreachBatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.incremental import upsert_latest
from ..operators.pit import latest_per_key
from ..sources.redis_sink import materialize_online

__all__ = [
    "stream_materialize_online",
    "stream_upsert_gold",
    "stream_commit_gold_mtable",
]


def stream_materialize_online(
    snapshots_stream: DataFrame,
    feature_cols: list[str],
    client_factory,
    entity_col: str = "customer_id",
    ts_col: str = "t_ref",
    tiebreak_col: str | None = None,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Start the continuous materializer; returns the StreamingQuery.

    Within each micro-batch the per-entity latest row wins (deterministic
    tiebreak); across batches Redis HSET last-write-wins gives the same
    result as the reference's full republish, at per-batch cost.
    """
    tb = tiebreak_col or ts_col

    def publish(batch_df: DataFrame, batch_id: int) -> None:
        latest = latest_per_key(batch_df, entity_col, ts_col, tb)
        materialize_online(
            latest,
            feature_cols,
            entity_col=entity_col,
            ts_col=ts_col,
            cat_col=None,
            client_factory=client_factory,
        )

    writer = snapshots_stream.writeStream.foreachBatch(publish)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_upsert_gold(
    snapshots_stream: DataFrame,
    table_path: str,
    keys: list[str],
    ts_col: str,
    tiebreak_col: str | None = None,
    partition_col: str | None = None,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Continuous incremental GOLD maintenance: each micro-batch MERGEs into
    the mtable at ``table_path`` through
    ``operators.incremental.upsert_latest`` (latest-per-key wins;
    partition-scoped rewrite when ``partition_col`` is set), so every batch
    is one ``MTable.merge_upsert`` commit with snapshot-isolated readers.
    The first batch on a missing path creates the table; a path holding
    plain parquet without a manifest fails the batch with ``ValueError``.
    Idempotent under micro-batch replay: re-merging the same rows elects
    the same winners.  For exactly-once (not just idempotent) semantics
    with a batch-id ledger, use :func:`stream_commit_gold_mtable` instead.
    """

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_latest(
            batch_df.sparkSession,
            table_path,
            batch_df,
            keys=keys,
            ts_col=ts_col,
            tiebreak_col=tiebreak_col,
            partition_col=partition_col,
        )

    writer = snapshots_stream.writeStream.foreachBatch(merge)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_commit_gold_mtable(
    snapshots_stream: DataFrame,
    table_path: str,
    keys: list[str],
    ts_col: str,
    partition_fmt: str = "yyyy-MM-dd",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Continuous gold maintenance into an ACID ``mtable``: each micro-batch
    MERGEs by key into the touched date partitions, published as ONE atomic
    manifest commit — readers are snapshot-isolated through every batch.

    EXACTLY-ONCE, not just idempotent: the stream batch id rides the same
    manifest PUT as the data it commits (``extra_meta``), so a replayed
    batch — foreachBatch is at-least-once after a checkpoint/commit race —
    is detected against the table's own ledger and skipped without writing
    anything.  The dedup ledger lives IN the sink's atomic commit, which is
    the textbook foreachBatch exactly-once recipe (batchId + transactional
    target), with the mtable manifest as the transaction."""
    from pyspark.sql import functions as F

    from ..sources.mtable import MTable

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        t = MTable(batch_df.sparkSession, table_path)
        meta = {"stream_batch_id": batch_id}
        if not t.versions():
            t.write(
                batch_df.withColumn(
                    "date",
                    F.date_format(F.col(ts_col), partition_fmt).cast("string"),
                ),
                partition_by="date",
                extra_meta=meta,
            )
            return
        # Ledger = max over ALL retained manifests, not the newest one's
        # meta: an interleaved compact/backfill commit carries its own meta
        # and would otherwise blind the replay check (ADVICE r8).
        last = t.ledger_max("stream_batch_id")
        if last is not None and batch_id <= last:
            return  # replayed batch: already inside a committed version
        t.merge_upsert(
            batch_df,
            keys=keys,
            partition_col_value=F.date_format(F.col(ts_col), partition_fmt),
            extra_meta=meta,
        )

    writer = snapshots_stream.writeStream.foreachBatch(commit)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

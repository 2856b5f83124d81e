"""Change-feed consumer (streaming a table) + RESTORE semantics.

Covers: the Trigger.AvailableNow drain loop with version-batch bounding,
a signed rollup kept equal to the recompute across a partition-spec change,
and RESTORE as an O(manifest) commit whose change-feed delta exactly
un-does what it reverts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from retailfeaturestore_spark.sources.mtable import MTable, NoSuchVersion
from retailfeaturestore_spark.streaming.changes_stream import ChangeFeedConsumer


def _snap(spark, rows):
    return spark.createDataFrame(
        rows, "customer_id long, t_ref string, score double"
    ).withColumn("t_ref", F.col("t_ref").cast("timestamp"))


def _with_date(df):
    return df.withColumn("date", F.date_format("t_ref", "yyyy-MM-dd"))


BASE = [
    (1, "2024-01-01 10:00:00", 1.0),
    (2, "2024-01-01 11:00:00", 2.0),
    (3, "2024-01-02 10:00:00", 3.0),
]

APPEND = [
    (4, "2024-01-03 10:00:00", 4.0),
    (5, "2024-01-03 11:00:00", 5.0),
]


def _mk4(spark, tmp_path, name="src"):
    t = MTable(spark, str(tmp_path / name))
    t.write(_with_date(_snap(spark, BASE)), partition_by="date")
    t.write(_with_date(_snap(spark, APPEND)), mode="append")
    t.delete(F.col("customer_id") == 2)
    t.update(F.col("customer_id") == 3, {"score": F.lit(30.0)})
    return t


def _rows(df):
    return {(r.customer_id, r.score, r.date) for r in df.collect()}


# -- restore ----------------------------------------------------------------


def test_restore_rolls_back_state_without_rewriting_files(spark, tmp_path):
    t = _mk4(spark, tmp_path)
    v1_rows = _rows(t.read(version=1))
    v1_files = set(t.read(version=1).inputFiles())
    assert t.restore(1) == 5
    assert _rows(t.read()) == v1_rows
    # O(manifest): the restored snapshot plans the ORIGINAL v1 files
    assert set(t.read().inputFiles()) == v1_files
    assert t.history()[-1]["operation"] == "restore"
    # time travel still reaches the undone commits
    assert {r.customer_id for r in t.read(version=4).collect()} == {1, 3, 4, 5}
    # restoring the current version is a no-op
    assert t.restore(5) == 5


def test_restore_nets_to_zero_in_the_feed(spark, tmp_path):
    t = _mk4(spark, tmp_path)
    t.restore(1)
    feed = t.read_changes(1)  # v2..v5: everything done, then undone
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    net = (
        feed.groupBy("customer_id", "score", "date")
        .agg(F.sum(sign).alias("net"))
        .where(F.col("net") != 0)
    )
    assert net.count() == 0
    # and the restore commit alone is the exact inverse of v1..v4's delta
    inv = {
        (r.customer_id, r.score, r.date): r.net
        for r in t.read_changes(4, 5)
        .groupBy("customer_id", "score", "date")
        .agg(F.sum(sign).alias("net"))
        .where(F.col("net") != 0)
        .collect()
    }
    fwd = {
        (r.customer_id, r.score, r.date): r.net
        for r in t.read_changes(1, 4)
        .groupBy("customer_id", "score", "date")
        .agg(F.sum(sign).alias("net"))
        .where(F.col("net") != 0)
        .collect()
    }
    assert inv == {k: -v for k, v in fwd.items()}


def test_restore_guards(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "empty"))
    with pytest.raises(NoSuchVersion):
        t.restore(1)
    t.write(_with_date(_snap(spark, BASE)), partition_by="date")
    with pytest.raises(NoSuchVersion):
        t.restore(7)


# -- consumer ----------------------------------------------------------------


def _signed_date_counts(feed):
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    return feed.groupBy("date").agg(F.sum(sign).cast("long").alias("n"))


def _dest_counts(dest):
    return {
        r.date: r.n
        for r in dest.read()
        .groupBy("date")
        .agg(F.sum("n").alias("n"))
        .where(F.col("n") != 0)
        .collect()
    }


def test_consumer_horizon_loss_is_a_loud_operator_error(spark, tmp_path):
    src = _mk4(spark, tmp_path)
    c = ChangeFeedConsumer(src, str(tmp_path / "ckpt"))
    c.run_available(lambda df, a, b: None)
    # vacuum past the cursor... then new commits arrive
    src.delete(F.col("customer_id") == 1)
    src.vacuum(keep_versions=1, min_age_ms=0)
    src.write(
        _with_date(_snap(spark, [(7, "2024-01-07 10:00:00", 7.0)])),
        mode="append",
    )
    # cursor 4, retained history starts at 5: the delta is uncomputable
    c2 = ChangeFeedConsumer(src, str(tmp_path / "ckpt_lag"))
    c2._write_ckpt(3)  # a consumer that lagged behind the vacuum horizon
    import pytest as _pytest
    from retailfeaturestore_spark.sources.mtable import NoSuchVersion

    with _pytest.raises(NoSuchVersion, match="vacuum outran"):
        c2.run_available(lambda df, a, b: None)


def test_consumer_version_batching_and_bootstrap(spark, tmp_path):
    src = _mk4(spark, tmp_path)
    seen: list[tuple[int, int]] = []
    c = ChangeFeedConsumer(src, str(tmp_path / "ckpt1"))
    ranges = c.run_available(lambda df, a, b: seen.append((a, b)))
    # v_from=0 bootstraps: the first batch is v1's initial content as inserts
    assert ranges == [(0, 1), (1, 2), (2, 3), (3, 4)] == seen
    assert c.processed_through() == 4


def test_consumer_sails_through_respec_and_migrate(spark, tmp_path):
    """Partition spec evolution must be invisible to a netting feed
    consumer: the respec commit emits no events, the post-respec append
    flows normally, and migrate()'s row-preserving churn nets to zero in
    the signed rollup."""
    src = MTable(spark, str(tmp_path / "src_respec"))
    src.write(_with_date(_snap(spark, BASE)), partition_by="date")
    dest = MTable(spark, str(tmp_path / "rollup_respec"))

    def process(feed, v_from, v_to):
        dest.write(_signed_date_counts(feed), mode="append")

    c = ChangeFeedConsumer(src, str(tmp_path / "ckpt_respec"))
    c.run_available(process)

    src.repartition_table("customer_id")  # metadata-only: no events
    src.write(
        _with_date(_snap(spark, [(6, "2024-01-04 10:00:00", 6.0)])),
        mode="append",
    )
    src.migrate()  # row-preserving churn: nets to zero downstream
    c.run_available(process)
    want = {
        r.date: r.n
        for r in src.read().groupBy("date").agg(F.count("*").alias("n")).collect()
    }
    assert _dest_counts(dest) == want
    # nothing left to drain, and the cursor sits at the migrate commit
    assert c.run_available(process) == []
    assert c.processed_through() == src.versions()[-1]


def test_consumer_drain_extends_to_a_commit_landing_mid_drain(spark, tmp_path):
    """run_available re-reads the latest version on every iteration, so a
    commit that lands while a batch is processed drains in the same call."""
    src = MTable(spark, str(tmp_path / "race_src"))
    src.write(_with_date(_snap(spark, BASE)), partition_by="date")
    c = ChangeFeedConsumer(src, str(tmp_path / "race_ckpt"))
    seen: list[tuple[int, int]] = []

    def process(feed, v_from, v_to):
        if not seen:
            src.write(_with_date(_snap(spark, APPEND)), mode="append")
        seen.append((v_from, v_to))

    assert c.run_available(process) == [(0, 1), (1, 2)] == seen
    assert c.run_available(process) == []

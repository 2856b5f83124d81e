"""Deletion vectors: merge-on-read position deletes.

Contracts: a position delete writes tombstones, never data; every read
path (snapshot, DML candidates, merge survivors, compaction input)
anti-applies them; tombstoning is idempotent across commits; rewrites
fold DVs away; vacuum can never delete a live DV file; the change feed
emits position deletes as row-level delete events and keeps the
all-pairs netting algebra exact; time travel sees each version's own
tombstone state.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from retailfeaturestore_spark.sources.mtable import MTable


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
    (4, "2024-01-02 11:00:00", 4.0),
    (5, "2024-01-03 10:00:00", 5.0),
]


def _mk(spark, tmp_path, name="dv"):
    t = MTable(spark, str(tmp_path / name))
    t.write(
        _with_date(_snap(spark, BASE)),
        partition_by="date",
        stats_cols=["score"],
    )
    return t


def _ids(t, **kw):
    return {r.customer_id for r in t.read(**kw).collect()}


def test_position_delete_reads_without_rewriting(spark, tmp_path):
    t = _mk(spark, tmp_path)
    files_v1 = set(t.read(version=1).inputFiles())
    v = t.delete_positions(F.col("customer_id").isin(2, 4))
    assert v == 2
    assert _ids(t) == {1, 3, 5}
    # merge-on-read: every DATA file of v1 is still planned (plus nothing
    # was rewritten); only tombstones were added
    assert files_v1 <= set(t.read().inputFiles())
    assert t.describe()["n_dv_files"] >= 1
    assert t.describe()["n_rows"] is None  # rowcounts are pre-tombstone
    # time travel: v1 still sees everything
    assert _ids(t, version=1) == {1, 2, 3, 4, 5}
    # nothing-matched commit is a no-op version
    assert t.delete_positions(F.col("customer_id") == 99) == 2


def test_tombstones_accumulate_and_are_idempotent(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_positions(F.col("customer_id") == 2)
    # re-tombstoning an already-deleted row plus one new row: only the new
    # row's tombstone is written (the candidate read anti-applies live DVs)
    v = t.delete_positions(F.col("customer_id").isin(2, 3))
    assert _ids(t) == {1, 4, 5}
    meta = t._read_manifest_raw(v)["meta"]
    assert meta["delete_positions_rows"] == 1
    # prune bounds the candidate scan exactly as copy-on-write delete
    t.delete_positions(F.col("score") >= 5.0, prune=[("score", ">=", 5.0)])
    assert _ids(t) == {1, 4}


def test_rewrites_fold_dvs_away_and_merge_sees_them(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_positions(F.col("customer_id") == 3)
    # copy-on-write UPDATE reads THROUGH the DV: the rewritten partition
    # no longer contains the tombstoned row
    t.update(F.col("customer_id") == 4, {"score": F.lit(40.0)})
    assert _ids(t) == {1, 2, 4, 5}
    assert {r.score for r in t.read().collect()} == {1.0, 2.0, 40.0, 5.0}
    # merge survivors are computed post-DV too
    t.delete_positions(F.col("customer_id") == 1)
    t.merge_upsert(
        _with_date(_snap(spark, [(6, "2024-01-01 12:00:00", 6.0)])),
        keys=["customer_id"],
        partition_col_value=F.date_format("t_ref", "yyyy-MM-dd"),
    )
    assert _ids(t) == {2, 4, 5, 6}
    # compaction materializes the remaining tombstones away
    t.compact()
    assert _ids(t) == {2, 4, 5, 6}


def test_vacuum_protects_live_dv_files(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_positions(F.col("customer_id") == 2)
    t.write(
        _with_date(_snap(spark, [(9, "2024-01-09 10:00:00", 9.0)])),
        mode="append",
    )
    t.vacuum(keep_versions=2, min_age_ms=0)
    # the DV file survives (it is live state of every retained version)
    assert _ids(t) == {1, 3, 4, 5, 9}
    assert t.describe()["n_dv_files"] == 1


@pytest.mark.slow  # driver verify-window fit (r14): see pyproject addopts
def test_change_feed_emits_position_deletes_and_algebra_holds(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_positions(F.col("customer_id").isin(2, 4))          # v2
    t.write(
        _with_date(_snap(spark, [(9, "2024-01-09 10:00:00", 9.0)])),
        mode="append",
    )                                                            # v3
    t.update(F.col("customer_id") == 3, {"score": F.lit(30.0)})  # v4
    feed = t.read_changes(0)
    ev = {
        (r.customer_id, r._change_type, r._commit_version, r._commit_operation)
        for r in feed.collect()
    }
    assert (2, "delete", 2, "delete_positions") in ev
    assert (4, "delete", 2, "delete_positions") in ev
    # the v4 rewrite's removal side excludes the already-tombstoned rows:
    # no second delete for 2/4 at v4
    assert (2, "delete", 4, "update") not in ev
    assert (4, "delete", 4, "update") not in ev

    def multiset(df):
        return {
            (r.customer_id, r.score): r.n
            for r in df.groupBy("customer_id", "score")
            .agg(F.count("*").alias("n"))
            .collect()
        }

    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    snaps = {0: {}}
    for v in range(1, 5):
        snaps[v] = multiset(t.read(version=v))
    for v_from in range(0, 4):
        for v_to in range(v_from + 1, 5):
            f = t.read_changes(v_from, v_to)
            got = (
                {}
                if f is None
                else {
                    (r.customer_id, r.score): r.net
                    for r in f.groupBy("customer_id", "score")
                    .agg(F.sum(sign).alias("net"))
                    .where(F.col("net") != 0)
                    .collect()
                }
            )
            want = {}
            for k in set(snaps[v_to]) | set(snaps[v_from]):
                d = snaps[v_to].get(k, 0) - snaps[v_from].get(k, 0)
                if d:
                    want[k] = d
            assert got == want, (v_from, v_to)


def test_restore_carries_dvs(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v_dv = t.delete_positions(F.col("customer_id") == 2)
    t.update(F.col("customer_id") == 3, {"score": F.lit(30.0)})
    t.restore(v_dv)
    assert _ids(t) == {1, 3, 4, 5}
    assert {r.score for r in t.read().collect()} == {1.0, 3.0, 4.0, 5.0}

"""mtable manifest scaling + OCC rebase (VERDICT r9 next-round #4/#6).

What 100 TB streaming cadence demands of a table format's log:

- latest-version resolution must not list the manifest directory
  (O(versions) RPC) — the advisory hint + probe-forward makes it
  O(1 + staleness);
- a commit must write O(touched partitions) JSON, not the complete file
  map — delta manifests with a full checkpoint every
  ``checkpoint_interval`` versions (Delta's log/checkpoint recipe);
- vacuum must keep every retained version readable after the chain below
  it is deleted — it materializes the oldest retained state as a
  ``c*.json`` checkpoint first;
- two writers racing on DISJOINT partitions must both land, serialized
  (rebase-and-retry), while overlapping writes still surface
  ConcurrentCommit.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from retailfeaturestore_spark.sources.mtable import (
    ConcurrentCommit,
    MTable,
    NoSuchVersion,
)


def _rows(spark, day: str, ids):
    return spark.createDataFrame(
        [(i, f"{day} 10:00:00", float(i)) for i in ids],
        "customer_id long, t_ref string, score double",
    ).withColumn("t_ref", F.col("t_ref").cast("timestamp")).withColumn(
        "date", F.lit(day)
    )


def _wide_table(spark, tmp_path, name="wide", days=12, interval=None):
    """One partition per day, seeded in a single full v1 commit."""
    t = MTable(spark, str(tmp_path / name), checkpoint_interval=interval)
    base = None
    for d in range(1, days + 1):
        day = f"2024-01-{d:02d}"
        df = _rows(spark, day, [d])
        base = df if base is None else base.unionByName(df)
    t.write(base, partition_by="date", stats_cols=["customer_id"])
    return t


def test_latest_resolution_does_not_list_the_manifest_dir(
    spark, tmp_path, monkeypatch
):
    t = _wide_table(spark, tmp_path, days=3)
    for i in range(7):
        t.write(_rows(spark, "2024-01-01", [100 + i]), mode="append")
    # the hint makes _latest() independent of version count: listing the
    # directory (versions()) must never be needed on the happy path
    def boom(self):
        raise AssertionError("versions() listed the manifest dir")

    monkeypatch.setattr(MTable, "versions", boom)
    v, m = t._latest()
    assert v == 8
    assert t.read().count() == 3 + 7
    monkeypatch.undo()
    # a garbled hint falls back to the listing (correctness never depends
    # on the pointer)
    with open(f"{t.path}/_manifest/_latest_hint", "w") as f:
        f.write("not-a-number")
    assert t._latest()[0] == 8
    # a STALE hint (crash between CAS and pointer write) probe-forwards
    with open(f"{t.path}/_manifest/_latest_hint", "w") as f:
        f.write("3")
    assert t._latest()[0] == 8


@pytest.mark.slow  # driver verify-window fit (r14): see pyproject addopts
def test_append_commits_are_delta_sized_by_touched_partitions(spark, tmp_path):
    t = _wide_table(spark, tmp_path, days=12, interval=8)
    for i in range(5):
        t.write(_rows(spark, "2024-01-03", [200 + i]), mode="append")
    # v1 is full; v2..v6 are deltas carrying ONLY the touched partition
    raw1 = t._read_manifest_raw(1)
    assert "delta" not in raw1 and len(raw1["partitions"]) == 12
    for v in range(2, 7):
        raw = t._read_manifest_raw(v)
        assert "delta" in raw and "partitions" not in raw, v
        assert set(raw["delta"]["partitions_set"]) == {"2024-01-03"}, v
        assert raw["delta"]["partitions_dropped"] == []
        # stats travel only for the staged files
        staged = set(raw["delta"]["stats_set"])
        assert staged <= set(raw["delta"]["partitions_set"]["2024-01-03"])
    # commit JSON size is proportional to the touched partition, not the
    # table: a delta on the 12-partition table stays far under the full
    full_sz = len(json.dumps(raw1))
    delta_sz = len(json.dumps(t._read_manifest_raw(3)))
    assert delta_sz < full_sz / 3, (delta_sz, full_sz)
    # reconstruction: every version's state equals the brute-force
    # expectation, and reads through the chain are exact
    assert t.read().count() == 12 + 5
    assert t.read(version=3).count() == 12 + 2
    m6 = t._read_manifest(6)
    assert len(m6["partitions"]["2024-01-03"]) == 6
    assert len(m6["partitions"]) == 12
    # live-file stats carried through the chain (append inheritance)
    assert all("customer_id" in ent for ent in m6["stats"].values())


@pytest.mark.slow  # driver verify-window fit (r14): see pyproject addopts
def test_full_checkpoint_every_interval_bounds_the_chain(spark, tmp_path):
    t = _wide_table(spark, tmp_path, days=4, interval=4)
    for i in range(9):
        t.write(_rows(spark, "2024-01-02", [300 + i]), mode="append")
    kinds = [
        "full" if "delta" not in t._read_manifest_raw(v) else "delta"
        for v in t.versions()
    ]
    # v1 full (seed), then deltas until full_distance hits the interval
    assert kinds[0] == "full"
    assert "full" in kinds[1:], kinds
    for v in t.versions():
        raw = t._read_manifest_raw(v)
        assert raw["full_distance"] < 4
    assert t.read().count() == 4 + 9


def test_overwrite_mode_is_always_a_full_manifest(spark, tmp_path):
    t = _wide_table(spark, tmp_path, days=3, interval=8)
    t.write(_rows(spark, "2024-01-01", [7]), mode="append")
    t.write(_rows(spark, "2024-02-01", [9]), partition_by="date")  # overwrite
    raw = t._read_manifest_raw(3)
    assert "delta" not in raw and raw["full_distance"] == 0
    assert t.read().count() == 1


@pytest.mark.slow  # driver verify-window fit (r14): see pyproject addopts
def test_vacuum_checkpoints_oldest_retained_delta(spark, tmp_path):
    t = _wide_table(spark, tmp_path, days=6, interval=10)
    for i in range(6):
        t.write(_rows(spark, "2024-01-04", [400 + i]), mode="append")
    # keep the last 3 versions: 5, 6, 7 — all deltas whose chain runs
    # through manifests vacuum is about to delete
    assert all("delta" in t._read_manifest_raw(v) for v in (5, 6, 7))
    t.vacuum(keep_versions=3, min_age_ms=0)
    t2 = MTable(spark, t.path)  # fresh handle: no warm state cache
    assert t2.versions() == [5, 6, 7]
    with pytest.raises(NoSuchVersion):
        t2._read_manifest(4)
    # every retained version still reconstructs + reads exactly
    assert t2.read(version=5).count() == 6 + 4
    assert t2.read(version=6).count() == 6 + 5
    assert t2.read(version=7).count() == 6 + 6
    # the checkpoint for the oldest retained version exists; newer
    # retained deltas chain down to it
    ck = json.load(open(f"{t.path}/_manifest/c{5:010d}.json"))
    assert len(ck["partitions"]) == 6
    # a second vacuum advances the horizon and drops the stale checkpoint
    t2.write(_rows(spark, "2024-01-04", [500]), mode="append")
    t2.vacuum(keep_versions=2, min_age_ms=0)
    import os

    assert not os.path.exists(f"{t.path}/_manifest/c{5:010d}.json")
    assert MTable(spark, t.path).read().count() == 6 + 7


def test_disjoint_partition_racers_both_land_serialized(
    spark, tmp_path, monkeypatch
):
    """VERDICT r9 #6: streaming commit + compaction touching DISJOINT
    partitions must both land via rebase instead of surfacing
    ConcurrentCommit to the caller."""
    t = _wide_table(spark, tmp_path, days=4)
    real_stage = MTable._stage_files
    raced = {}

    def stage_with_race(self, df, partition_by):
        out = real_stage(self, df, partition_by)
        if "done" not in raced:
            raced["done"] = True
            # a racing writer replaces a DIFFERENT partition between this
            # writer's snapshot read and its commit
            MTable(spark, self.path).overwrite_partitions(
                _rows(spark, "2024-01-02", [22]),
                partition_values=["2024-01-02"],
            )
        return out

    monkeypatch.setattr(MTable, "_stage_files", stage_with_race)
    v = t.overwrite_partitions(
        _rows(spark, "2024-01-01", [11]), partition_values=["2024-01-01"]
    )
    monkeypatch.undo()
    assert v == 3  # racer took v2; this writer rebased onto it
    got = {(r.customer_id, r.date) for r in t.read().collect()}
    assert (11, "2024-01-01") in got and (22, "2024-01-02") in got
    assert (1, "2024-01-01") not in got and (2, "2024-01-02") not in got
    assert {(3, "2024-01-03"), (4, "2024-01-04")} <= got


def test_overlapping_partition_racers_still_conflict(spark, tmp_path, monkeypatch):
    t = _wide_table(spark, tmp_path, days=2)
    real_stage = MTable._stage_files
    raced = {}

    def stage_with_race(self, df, partition_by):
        out = real_stage(self, df, partition_by)
        if "done" not in raced:
            raced["done"] = True
            MTable(spark, self.path).write(
                _rows(spark, "2024-01-01", [33]), mode="append"
            )
        return out

    monkeypatch.setattr(MTable, "_stage_files", stage_with_race)
    with pytest.raises(ConcurrentCommit):
        t.overwrite_partitions(
            _rows(spark, "2024-01-01", [11]), partition_values=["2024-01-01"]
        )
    monkeypatch.undo()
    # the racer's append is intact; retry on the fresh base succeeds
    assert {r.customer_id for r in t.read(partitions=["2024-01-01"]).collect()} == {
        1,
        33,
    }
    t.overwrite_partitions(
        _rows(spark, "2024-01-01", [11]), partition_values=["2024-01-01"]
    )
    assert {r.customer_id for r in t.read(partitions=["2024-01-01"]).collect()} == {
        11
    }


def test_racing_appends_both_land(spark, tmp_path, monkeypatch):
    t = _wide_table(spark, tmp_path, days=2)
    real_stage = MTable._stage_files
    raced = {}

    def stage_with_race(self, df, partition_by):
        out = real_stage(self, df, partition_by)
        if "done" not in raced:
            raced["done"] = True
            MTable(spark, self.path).write(
                _rows(spark, "2024-01-01", [44]), mode="append"
            )
        return out

    monkeypatch.setattr(MTable, "_stage_files", stage_with_race)
    # appends are content-independent: SAME-partition races rebase too
    v = t.write(_rows(spark, "2024-01-01", [55]), mode="append")
    monkeypatch.undo()
    assert v == 3
    assert {r.customer_id for r in t.read(partitions=["2024-01-01"]).collect()} == {
        1,
        44,
        55,
    }


def test_time_travel_and_ledger_survive_delta_chains(spark, tmp_path):
    t = _wide_table(spark, tmp_path, days=3, interval=5)
    for i in range(4):
        t.write(
            _rows(spark, "2024-01-02", [600 + i]),
            mode="append",
            extra_meta={"stream_batch_id": i},
        )
    # the batch-id trail reads back from every manifest of the chain
    assert [(h["meta"] or {}).get("stream_batch_id") for h in t.history()] == [
        None, 0, 1, 2, 3,
    ]
    assert [h["version"] for h in t.history()] == [1, 2, 3, 4, 5]
    # time travel reads every retained version exactly
    for v, extra in [(1, 0), (2, 1), (3, 2), (4, 3), (5, 4)]:
        assert t.read(version=v).count() == 3 + extra
    # the keys added across a delta chain
    old = {r.customer_id for r in t.read(version=1).collect()}
    new = {r.customer_id for r in t.read(version=5).collect()}
    assert old <= new and len(new - old) == 4

"""mtable partition spec evolution: repartition_table / migrate.

The Iceberg capability Delta lacks: change the partition layout for
future writes in one metadata commit.  Under test:

- the respec rewrites ZERO files and emits ZERO feed events;
- reads present one logical table across both layouts (old partition
  column restored from legacy paths, new one read from legacy data /
  new paths, typed restore for non-string partition columns);
- appends land under the new spec; value selection targets the current
  spec; stats pruning still covers legacy files;
- copy-on-write DML migrates rewritten legacy files into the new
  layout; migrate() does it explicitly with MERGE semantics (staged
  files join live current-spec entries instead of clobbering them);
- merge_upsert / overwrite_partitions refuse while legacy entries
  exist; compact skips them and points at migrate();
- restore / describe carry the mixed-spec state.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from retailfeaturestore_spark.sources.mtable import _SPEC_SEP, MTable


def _rows(spark, rows):
    return spark.createDataFrame(
        rows, "id long, region string, amount double, day string"
    )


BASE = [
    (1, "EU", 10.0, "2024-01-01"),
    (2, "US", 20.0, "2024-01-01"),
    (3, "EU", 30.0, "2024-01-02"),
]


def _mk(spark, tmp_path, name="tbl", **kw):
    t = MTable(spark, str(tmp_path / name))
    t.write(_rows(spark, BASE), partition_by="day", **kw)
    return t


def test_respec_is_metadata_only_and_reads_span_both_layouts(spark, tmp_path):
    t = _mk(spark, tmp_path, stats_cols=["amount"])
    files_v1 = sorted(t.read().inputFiles())
    v = t.repartition_table("region")
    assert v == 2
    # zero files rewritten, zero change-feed events
    assert sorted(t.read().inputFiles()) == files_v1
    assert t.read_changes(1, 2) is None
    d = t.describe()
    assert d["partition_by"] == "region"
    assert d["legacy"] and d["n_legacy_files"] == len(files_v1)
    # one logical table: old pby restored from paths, new pby from data
    got = {(r.id, r.region, r.day) for r in t.read().collect()}
    assert got == {(1, "EU", "2024-01-01"), (2, "US", "2024-01-01"),
                   (3, "EU", "2024-01-02")}
    # appends land under the NEW spec
    t.write(_rows(spark, [(4, "AP", 40.0, "2024-01-03")]), mode="append")
    new_files = [f for f in t.read().inputFiles() if "region=AP" in f]
    assert new_files  # path proves the new layout
    raw = spark.read.parquet(*new_files)
    assert "day" in raw.columns  # old pby is now DATA in new files
    assert "region" not in raw.columns  # new pby lives in the path
    got = {(r.id, r.region, r.day) for r in t.read().collect()}
    assert (4, "AP", "2024-01-03") in got and len(got) == 4


def test_value_selection_and_stats_pruning_after_respec(spark, tmp_path):
    t = _mk(spark, tmp_path, stats_cols=["amount"])
    t.repartition_table("region")
    t.write(_rows(spark, [(4, "AP", 40.0, "2024-01-03")]), mode="append")
    # value selection targets the CURRENT spec; legacy files always planned
    sel = t.read(partitions=["AP"])
    assert {r.id for r in sel.collect()} == {1, 2, 3, 4}  # legacy included
    # stats pruning still drops provably-irrelevant legacy files
    pruned = t.read(prune=[("amount", ">=", 35.0)])
    assert len(pruned.inputFiles()) < len(t.read().inputFiles())
    assert {r.id for r in pruned.where("amount >= 35").collect()} == {4}


def test_dml_migrates_and_migrate_merges(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.repartition_table("region")
    t.write(_rows(spark, [(4, "EU", 40.0, "2024-01-03")]), mode="append")
    # UPDATE rewrites its candidate files INTO the current layout
    t.update("id = 1", {"amount": F.lit(11.0)})
    got = {r.id: r.amount for r in t.read().collect()}
    assert got[1] == 11.0 and got[3] == 30.0
    # migrate() finishes the job; merge semantics protect the live EU entry
    pre_eu = {f for f in t.read().inputFiles() if "region=EU" in f}
    t.migrate()
    d = t.describe()
    assert d["legacy"] == [] and d["n_legacy_files"] == 0
    assert {r.id for r in t.read().collect()} == {1, 2, 3, 4}
    post_eu = {f for f in t.read().inputFiles() if "region=EU" in f}
    assert pre_eu <= post_eu  # live EU files survived the migration merge
    # and value selection now covers everything
    assert {r.id for r in t.read(partitions=["EU"]).collect()} == {1, 3, 4}
    # rows are byte-identical through the whole evolution (netting feed)
    net = (
        t.read_changes(0)
        .groupBy("id", "region", "amount", "day")
        .agg(F.sum(F.when(F.col("_change_type") == "insert", 1).otherwise(-1)).alias("n"))
        .where("n != 0")
    )
    rows = {(r.id, r.region, r.amount, r.day) for r in net.collect()}
    assert rows == {
        (1, "EU", 11.0, "2024-01-01"),
        (2, "US", 20.0, "2024-01-01"),
        (3, "EU", 30.0, "2024-01-02"),
        (4, "EU", 40.0, "2024-01-03"),
    }


def test_guards_merge_overwrite_compact(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.repartition_table("region")
    upd = spark.createDataFrame(
        [(1, "EU", 99.0, "2024-01-01")],
        "id long, region string, amount double, day string",
    )
    with pytest.raises(ValueError, match="migrate"):
        t.merge_upsert(upd, ["id"], F.col("region"))
    with pytest.raises(ValueError, match="migrate"):
        t.overwrite_partitions(upd, partition_values=["EU"])
    # compact leaves legacy entries to migrate()
    legacy = {k for k in t._latest()[1]["partitions"] if _SPEC_SEP in k}
    assert legacy
    t.compact()
    assert legacy <= set(t._latest()[1]["partitions"])
    # after migration both work again
    t.migrate()
    t.merge_upsert(upd, ["id"], F.col("region"))
    assert {r.amount for r in t.read().where("id = 1").collect()} == {99.0}


def test_typed_partition_column_round_trips(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "typed"))
    t.write(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b"), (3, 10, "c")],
            "id long, bucket int, payload string",
        ),
        partition_by=None,
        stats_cols=["id"],
    )
    t.repartition_table("bucket")
    assert t.describe()["partition_type"] == "int"
    t.write(
        spark.createDataFrame([(4, 30, "d")], "id long, bucket int, payload string"),
        mode="append",
    )
    df = t.read()
    # the partition column keeps its INT type across path round-trips
    assert df.schema["bucket"].dataType.simpleString() == "int"
    got = {(r.id, r.bucket) for r in df.collect()}
    assert got == {(1, 10), (2, 20), (3, 10), (4, 30)}
    t.migrate()
    df = t.read()
    assert df.schema["bucket"].dataType.simpleString() == "int"
    assert {(r.id, r.bucket) for r in df.collect()} == got


def test_respec_to_unpartitioned_and_back(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.repartition_table(None)
    assert t.describe()["partition_by"] is None
    t.write(_rows(spark, [(4, "AP", 40.0, "2024-01-03")]), mode="append")
    assert {r.id for r in t.read().collect()} == {1, 2, 3, 4}
    t.migrate()
    assert t.describe()["legacy"] == []
    assert {(r.id, r.day) for r in t.read().collect()} == {
        (1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-01-02"),
        (4, "2024-01-03"),
    }
    # and back to partitioned: day is a data column now
    t.repartition_table("day")
    t.write(_rows(spark, [(5, "EU", 50.0, "2024-01-04")]), mode="append")
    assert {r.id for r in t.read().collect()} == {1, 2, 3, 4, 5}
    assert any("day=2024-01-04" in f for f in t.read().inputFiles())


def test_restore_carries_the_mixed_spec(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.repartition_table("region")  # v2
    t.write(_rows(spark, [(4, "AP", 40.0, "2024-01-03")]), mode="append")  # v3
    t.restore(1)
    d = t.describe()
    assert d["partition_by"] == "day" and d["legacy"] == []
    assert {r.id for r in t.read().collect()} == {1, 2, 3}


def test_respec_composes_with_rename(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.rename_column("day", "event_day")
    t.repartition_table("region")
    df = t.read()
    assert "event_day" in df.columns  # old pby is data, logically renamed
    got = {(r.id, r.region, r.event_day) for r in df.collect()}
    assert (1, "EU", "2024-01-01") in got
    t.rename_column("region", "zone")
    assert t.describe()["partition_by"] == "zone"
    t.write(
        _rows(spark, [(4, "AP", 40.0, "2024-01-03")])
        .withColumnRenamed("day", "event_day")
        .withColumnRenamed("region", "zone"),
        mode="append",
    )
    assert {r.zone for r in t.read().collect()} == {"EU", "US", "AP"}
    t.migrate()
    assert t.describe()["legacy"] == []
    assert {(r.id, r.zone) for r in t.read().collect()} == {
        (1, "EU"), (2, "US"), (3, "EU"), (4, "AP")
    }


def test_vacuum_time_based_retention(spark, tmp_path):
    """keep_ms retains every version committed within the window in
    ADDITION to keep_versions — time travel by policy, not by guessing
    commit cadence."""
    import time as _time

    t = _mk(spark, tmp_path, name="vac")
    t.write(_rows(spark, [(4, "AP", 40.0, "2024-01-03")]), mode="append")
    t.write(_rows(spark, [(5, "AP", 50.0, "2024-01-04")]), mode="append")
    assert t.versions() == [1, 2, 3]
    # a generous window keeps everything despite keep_versions=1
    t.vacuum(keep_versions=1, min_age_ms=0, keep_ms=10**9)
    assert t.versions() == [1, 2, 3]
    assert t.read(version=1).count() == 3  # time travel intact
    # a zero window degrades to the version-count horizon
    _time.sleep(0.05)
    t.vacuum(keep_versions=1, min_age_ms=0, keep_ms=0)
    assert t.versions() == [3]
    assert t.read().count() == 5


def test_history_carries_operation_metadata(spark, tmp_path):
    t = _mk(spark, tmp_path, name="hist")
    t.repartition_table("region")
    h = t.history()
    assert [e["version"] for e in h] == [1, 2]
    assert h[1]["operation"] == "repartition_table"
    assert h[1]["meta"]["respec"] == ["day", "region"]
    assert h[0]["parent"] is None and h[1]["parent"] == 1

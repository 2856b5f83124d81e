"""mtable column mapping: RENAME / DROP COLUMN as metadata-only commits.

The Delta column-mapping (name mode) shape: files keep stable PHYSICAL
column names; the manifest's ``mapping``/``dropped`` fields redirect the
logical surface.  Under test:

- rename/drop rewrite ZERO data files (inputFiles identical across the
  commit) and every read path (snapshot, prune, DML, merge, feed,
  describe) speaks the post-change logical names;
- time travel presents each version under ITS OWN names;
- a re-added logical name after a drop takes a FRESH physical name, so
  the retired bytes in still-live files can never resurrect;
- restore carries the mapping; racing a rename against an in-flight
  append is an OCC conflict, not a silent resurrection.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from retailfeaturestore_spark.sources.mtable import (
    ConcurrentCommit,
    MTable,
)


def _snap(spark, rows):
    return spark.createDataFrame(
        rows, "customer_id long, t_ref string, score double, note string"
    ).withColumn("t_ref", F.col("t_ref").cast("timestamp"))


def _with_date(df):
    return df.withColumn("date", F.date_format("t_ref", "yyyy-MM-dd"))


BASE = [
    (1, "2024-01-01 10:00:00", 1.0, "a"),
    (2, "2024-01-01 11:00:00", 2.0, "b"),
    (3, "2024-01-02 10:00:00", 3.0, "c"),
]


def _mk(spark, tmp_path, name="tbl", **kw):
    t = MTable(spark, str(tmp_path / name))
    t.write(_with_date(_snap(spark, BASE)), partition_by="date", **kw)
    return t


def test_rename_is_metadata_only_and_logical_everywhere(spark, tmp_path):
    t = _mk(spark, tmp_path, stats_cols=["score"])
    files_before = sorted(t.read().inputFiles())
    v = t.rename_column("score", "quality")
    assert v == 2
    # zero data files rewritten, zero feed events for the rename commit
    assert sorted(t.read().inputFiles()) == files_before
    assert t.read_changes(1, 2) is None
    # the logical surface renamed...
    df = t.read()
    assert "quality" in df.columns and "score" not in df.columns
    assert {r["quality"] for r in df.collect()} == {1.0, 2.0, 3.0}
    # ...while time travel shows version 1 under ITS name
    assert "score" in t.read(version=1).columns
    d = t.describe()
    assert d["schema"]["quality"] == "double"
    assert "score" not in d["schema"]
    assert d["column_mapping"] == {"quality": "score"}
    assert d["stats_cols"] == ["quality"]


def test_prune_and_dml_speak_the_new_name(spark, tmp_path):
    t = _mk(spark, tmp_path, stats_cols=["score"])
    t.rename_column("score", "quality")
    # data skipping: stats are keyed physically, probed logically — the
    # 2024-01-02 file (score=3.0 only) is provably out of range for <= 2
    pruned = t.read(prune=[("quality", "<=", 2.0)])
    assert len(pruned.inputFiles()) < len(t.read().inputFiles())
    assert {r["quality"] for r in pruned.collect()} == {1.0, 2.0}
    # copy-on-write UPDATE/DELETE under the logical name
    t.update("quality = 2.0", {"quality": F.lit(20.0)})
    assert {r["quality"] for r in t.read().collect()} == {1.0, 20.0, 3.0}
    t.delete("quality = 20.0")
    assert {r["quality"] for r in t.read().collect()} == {1.0, 3.0}
    # merge-on-read position delete under the logical name
    t.delete_positions("quality = 3.0")
    assert {r["quality"] for r in t.read().collect()} == {1.0}


def test_append_and_merge_after_rename_stage_physical(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.rename_column("score", "quality")
    extra = _with_date(
        _snap(spark, [(4, "2024-01-03 10:00:00", 4.0, "d")])
    ).withColumnRenamed("score", "quality")
    t.write(extra, mode="append")
    got = t.read()
    assert {r["quality"] for r in got.collect()} == {1.0, 2.0, 3.0, 4.0}
    # the appended file carries the PHYSICAL name — raw footer proof
    new_files = [f for f in got.inputFiles() if "2024-01-03" in f]
    assert new_files
    raw = spark.read.parquet(*new_files)
    assert "score" in raw.columns and "quality" not in raw.columns
    # merge by logical key into a logical-named partition expression
    upd = spark.createDataFrame(
        [(4, "2024-01-03 12:00:00", 40.0, "d2")],
        "customer_id long, t_ref string, quality double, note string",
    ).withColumn("t_ref", F.col("t_ref").cast("timestamp"))
    t.merge_upsert(upd, ["customer_id"], F.date_format("t_ref", "yyyy-MM-dd"))
    rows = {r["customer_id"]: r["quality"] for r in t.read().collect()}
    assert rows[4] == 40.0 and rows[1] == 1.0


def test_rename_partition_column(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.rename_column("date", "day")
    df = t.read()
    assert "day" in df.columns and "date" not in df.columns
    assert t.read(partitions=["2024-01-01"]).count() == 2
    assert t.describe()["partition_by"] == "day"
    # append under the logical layout: the frame carries `day`
    extra = _with_date(
        _snap(spark, [(5, "2024-01-05 10:00:00", 5.0, "e")])
    ).withColumnRenamed("date", "day")
    t.write(extra, mode="append")
    assert t.read().count() == 4
    # compaction keeps working across the rename (logical frame staged back)
    t.compact()
    assert t.read().count() == 4


def test_drop_is_metadata_only_and_readd_raises(spark, tmp_path):
    t = _mk(spark, tmp_path)
    files_before = sorted(t.read().inputFiles())
    t.drop_column("note")
    assert sorted(t.read().inputFiles()) == files_before  # metadata-only
    assert "note" not in t.read().columns
    assert "note" in t.read(version=1).columns  # time travel keeps it
    d = t.describe()
    assert d["dropped_columns"] == ["note"] and "note" not in d["schema"]
    # re-adding the logical name is a schema change an append refuses, so
    # the retired bytes can never resurrect through it
    extra = _with_date(
        _snap(spark, [(4, "2024-01-03 10:00:00", 4.0, "NEW")])
    )
    with pytest.raises(ValueError, match="adds columns"):
        t.write(extra, mode="append")
    assert "note" not in t.read().columns


def test_drop_guards(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="partition column"):
        t.drop_column("date")
    with pytest.raises(ValueError, match="no column"):
        t.drop_column("nope")
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("score", "note")


def test_change_feed_across_rename_uses_endpoint_names(spark, tmp_path):
    t = _mk(spark, tmp_path)
    extra = _with_date(_snap(spark, [(4, "2024-01-03 10:00:00", 4.0, "d")]))
    t.write(extra, mode="append")  # v2: insert events
    t.rename_column("score", "quality")  # v3: no events
    ch = t.read_changes(1)
    assert "quality" in ch.columns and "score" not in ch.columns
    rows = ch.collect()
    assert {r["_commit_version"] for r in rows} == {2}
    assert {r["quality"] for r in rows} == {4.0}


def test_restore_carries_mapping(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.rename_column("score", "quality")  # v2
    t.drop_column("note")  # v3
    t.restore(1)  # back to the v1 names
    assert "score" in t.read().columns and "note" in t.read().columns
    t.restore(3)
    assert "quality" in t.read().columns and "note" not in t.read().columns


def test_overwrite_resets_mapping(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.rename_column("score", "quality")
    t.drop_column("note")
    fresh = _with_date(
        _snap(spark, [(7, "2024-01-07 10:00:00", 7.0, "n")])
    ).withColumnRenamed("score", "quality")
    t.write(fresh, mode="overwrite")
    d = t.describe()
    assert d["column_mapping"] == {} and d["dropped_columns"] == []
    # logical names ARE the physical reality again
    raw = spark.read.parquet(*t.read().inputFiles())
    assert "quality" in raw.columns and "score" not in raw.columns
    assert {r["note"] for r in t.read().collect()} == {"n"}


def test_racing_rename_is_an_occ_conflict(spark, tmp_path, monkeypatch):
    """An append staged under the old logical<->physical contract must NOT
    auto-rebase over a rename/drop that landed mid-flight — in both OCC
    loops (append fast path and the overwrite_partitions rebase)."""
    t = _mk(spark, tmp_path)
    real_stage = MTable._stage_files
    raced = {}

    def stage_with_race(self, df, partition_by):
        out = real_stage(self, df, partition_by)
        if "done" not in raced:
            raced["done"] = True
            MTable(spark, self.path).rename_column("score", "quality")
        return out

    monkeypatch.setattr(MTable, "_stage_files", stage_with_race)
    ok = _with_date(_snap(spark, [(5, "2024-01-05 10:00:00", 5.0, "e")]))
    with pytest.raises(ConcurrentCommit):
        t.write(ok, mode="append")
    monkeypatch.undo()
    # retry under the new contract lands
    t.write(
        ok.withColumnRenamed("score", "quality"), mode="append"
    )
    assert t.read().count() == 4

    raced.clear()
    t2 = _mk(spark, tmp_path, name="tbl2")
    monkeypatch.setattr(MTable, "_stage_files", stage_with_race)
    with pytest.raises(ConcurrentCommit):
        t2.overwrite_partitions(
            _with_date(_snap(spark, [(9, "2024-01-01 12:00:00", 9.0, "z")])),
            partition_values=["2024-01-01"],
        )
    monkeypatch.undo()


def test_logical_view_keeps_pruning_and_pushdown(spark, tmp_path):
    """The mapping projection must be transparent to Catalyst: a
    two-column selection prunes the other physical columns out of
    ReadSchema, and a filter on the LOGICAL name pushes down to the scan
    under the PHYSICAL name."""
    from retailfeaturestore_spark.plans import formatted_plan, pushed_filters

    t = _mk(spark, tmp_path)
    t.rename_column("score", "quality")
    df = t.read().select("customer_id", "quality")
    plan = formatted_plan(df)
    # note/t_ref never referenced -> absent from the scan schema
    readschema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert readschema and all("note" not in ln for ln in readschema)
    # pushdown through the alias projection: assert on an UNPARTITIONED
    # table — the partitioned read's input_file_name() restore column
    # blocks pushdown through its projection for ANY mtable read
    # (pre-existing, mapping-independent; stats pruning covers that case)
    u = MTable(spark, str(tmp_path / "flat"))
    u.write(_snap(spark, BASE), partition_by=None)
    u.rename_column("score", "quality")
    pushed = pushed_filters(u.read().where(F.col("quality") > 1.5))
    assert any("score" in p for p in pushed), pushed


def test_widened_explicit_schema_scan_still_prunes_columns(spark, tmp_path):
    """The explicit-schema read strategy widened tables use must not
    defeat column pruning: unreferenced columns stay out of ReadSchema."""
    from retailfeaturestore_spark.plans import formatted_plan

    t = MTable(spark, str(tmp_path / "widen_prune"))
    t.write(
        spark.createDataFrame(
            [(1, 1.5, "x", "a")], "id int, v float, note string, day string"
        ),
        partition_by="day",
    )
    t.write(
        spark.createDataFrame(
            [(2, 2.5, "y", "b")], "id bigint, v double, note string, day string"
        ),
        mode="append",
        allow_widening=True,
    )
    df = t.read().select("id", "v")
    readschema = [
        ln for ln in formatted_plan(df).splitlines() if "ReadSchema" in ln
    ]
    assert readschema and all("note" not in ln for ln in readschema)
    assert df.schema["id"].dataType.simpleString() == "bigint"


def test_mapping_survives_delta_manifests_and_vacuum_checkpoint(
    spark, tmp_path
):
    t = MTable(spark, str(tmp_path / "chain"))
    t.checkpoint_interval = 100
    t.write(_with_date(_snap(spark, BASE)), partition_by="date")
    t.rename_column("score", "quality")
    for i in range(3):  # delta commits carry the mapping forward
        t.write(
            _with_date(
                _snap(spark, [(10 + i, f"2024-02-0{i + 1} 10:00:00", 9.0, "x")])
            ).withColumnRenamed("score", "quality"),
            mode="append",
        )
    assert "quality" in t.read().columns
    t.vacuum(keep_versions=2, min_age_ms=0)
    # the checkpointed oldest retained version still presents logically
    vs = t.versions()
    assert "quality" in t.read(version=vs[0]).columns
    assert "quality" in t.read().columns

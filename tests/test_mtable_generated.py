"""mtable generated columns: GENERATED ALWAYS AS declarations.

Writers may omit a declared column (derived before staging) and may not
disagree with it (implicit null-safe-equality CHECK, enforced before the
commit CAS).  Declaring the partition column generated gives
hidden-partitioning ergonomics: appends and merges carry raw rows and
the table derives its own layout.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from retailfeaturestore_spark.sources.mtable import (
    ConstraintViolation,
    MTable,
)


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "id long, ts string, amount double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


BASE = [
    (1, "2024-01-01 10:00:00", 10.0),
    (2, "2024-01-01 11:00:00", 20.0),
    (3, "2024-01-02 10:00:00", 30.0),
]

GEN = {"day": "date_format(ts, 'yyyy-MM-dd')"}


def _mk(spark, tmp_path, name="tbl"):
    t = MTable(spark, str(tmp_path / name))
    # the frame does NOT carry `day`: the table derives its own layout
    t.write(_ev(spark, BASE), partition_by="day", generated=GEN)
    return t


def test_hidden_partitioning_derives_and_appends_raw(spark, tmp_path):
    t = _mk(spark, tmp_path)
    assert t.describe()["generated"] == GEN
    got = {(r.id, r.day) for r in t.read().collect()}
    assert got == {(1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-01-02")}
    # raw append: no day column supplied, derived + routed to its partition
    t.write(_ev(spark, [(4, "2024-01-03 09:00:00", 40.0)]), mode="append")
    assert any("day=2024-01-03" in f for f in t.read().inputFiles())
    assert (4, "2024-01-03") in {(r.id, r.day) for r in t.read().collect()}


def test_disagreeing_supplied_value_is_refused(spark, tmp_path):
    t = _mk(spark, tmp_path)
    bad = _ev(spark, [(5, "2024-01-05 09:00:00", 50.0)]).withColumn(
        "day", F.lit("1999-12-31")
    )
    with pytest.raises(ConstraintViolation, match="__generated_day"):
        t.write(bad, mode="append")
    # a CORRECT supplied value passes (null-safe equality)
    ok = _ev(spark, [(5, "2024-01-05 09:00:00", 50.0)]).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    t.write(ok, mode="append")
    assert t.read().count() == 4


def test_update_guard_and_rederivation(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="generated"):
        t.update("id = 1", {"day": F.lit("2030-01-01")})
    # updating the SOURCE re-derives the generated column
    t.update(
        "id = 1", {"ts": F.lit("2024-02-09 08:00:00").cast("timestamp")}
    )
    got = {r.id: r.day for r in t.read().collect()}
    assert got[1] == "2024-02-09" and got[2] == "2024-01-01"
    assert any("day=2024-02-09" in f for f in t.read().inputFiles())


def test_merge_without_partition_col_value(spark, tmp_path):
    t = _mk(spark, tmp_path)
    upd = _ev(spark, [(2, "2024-01-04 12:00:00", 99.0)])
    t.merge_upsert(upd, ["id"])  # pby generated -> derived automatically
    got = {r.id: (r.amount, r.day) for r in t.read().collect()}
    assert got[2] == (99.0, "2024-01-04") and len(got) == 3


def test_rename_follows_and_source_drop_refused(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.rename_column("day", "event_day")
    assert t.describe()["generated"] == {
        "event_day": "date_format(ts, 'yyyy-MM-dd')"
    }
    t.write(_ev(spark, [(4, "2024-01-03 09:00:00", 40.0)]), mode="append")
    assert (4, "2024-01-03") in {
        (r.id, r.event_day) for r in t.read().collect()
    }
    with pytest.raises(ValueError, match="ts"):
        t.rename_column("ts", "event_ts")  # source of the declaration
    with pytest.raises(ValueError, match="ts"):
        t.drop_column("ts")


def test_declarations_ride_the_chain_and_compaction_skips_revalidation(
    spark, tmp_path, monkeypatch
):
    t = _mk(spark, tmp_path)
    t.write(_ev(spark, [(4, "2024-01-01 12:00:00", 40.0)]), mode="append")
    t.update("id = 1", {"amount": F.lit(11.0)})
    # the declaration survived data commits (carried by every manifest form)
    assert t.describe()["generated"] == GEN
    calls = []
    orig = MTable._enforce
    monkeypatch.setattr(
        MTable, "_enforce", lambda self, df, cons, what: calls.append(what)
        or orig(self, df, cons, what)
    )
    t.compact()
    assert calls == []  # maintenance rewrite: rows already passed
    t.write(_ev(spark, [(5, "2024-01-02 12:00:00", 50.0)]), mode="append")
    assert calls == ["append rows"]


def test_restore_carries_declarations(spark, tmp_path):
    t = _mk(spark, tmp_path)
    # a full overwrite without declarations clears them (v2)
    t.write(
        _ev(spark, BASE).withColumn("day", F.date_format("ts", "yyyy-MM-dd")),
        partition_by="day",
    )
    assert t.describe()["generated"] == {}
    t.restore(1)
    assert t.describe()["generated"] == GEN
    bad = _ev(spark, [(7, "2024-01-07 10:00:00", 7.0)]).withColumn(
        "day", F.lit("1999-12-31")
    )
    with pytest.raises(ConstraintViolation):
        t.write(bad, mode="append")

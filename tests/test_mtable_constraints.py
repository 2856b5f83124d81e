"""mtable write-time enforcement of generated columns' implicit CHECK.

A generated column's declaration is enforced as a null-safe-equality
CHECK at every write path that adds rows, and rejection happens BEFORE
the manifest CAS, so a violating commit leaves no version behind (the
next reader never sees partial state).  Deletes only remove rows and
are never re-validated.
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
    t.write(_ev(spark, BASE), partition_by="day", generated=GEN)
    return t


def _rows(t):
    return {(r.id, r.day) for r in t.read().collect()}


def _bad(spark, ts="2024-01-05 10:00:00"):
    return _ev(spark, [(9, ts, 9.0)]).withColumn("day", F.lit("1999-12-31"))


def test_enforced_on_append_update_merge_not_delete(spark, tmp_path):
    t = _mk(spark, tmp_path)
    bad = _bad(spark)
    v = t.history()[-1]["version"]
    with pytest.raises(ConstraintViolation):
        t.write(bad, mode="append")
    # nothing partial landed: no new version, state unchanged
    assert t.history()[-1]["version"] == v
    assert t.read().count() == 3
    # an update may not set the generated column to a disagreeing value
    with pytest.raises(ValueError, match="generated"):
        t.update(F.col("id") == 1, {"day": F.lit("1999-12-31")})
    with pytest.raises(ConstraintViolation):
        t.merge_upsert(bad, ["id"])
    assert t.history()[-1]["version"] == v
    assert _rows(t) == {
        (1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-01-02"),
    }
    # deletes can only remove rows — never re-validated, never refused
    t.delete(F.col("id") == 2)
    assert {r.id for r in t.read().collect()} == {1, 3}
    # a conforming append is unaffected
    t.write(_ev(spark, [(9, "2024-01-05 10:00:00", 9.0)]), mode="append")
    assert (9, "2024-01-05") in _rows(t)


def test_user_metadata_cannot_waive_enforcement(spark, tmp_path):
    t = _mk(spark, tmp_path)
    bad = _bad(spark, ts="2024-01-01 12:00:00")
    v = t.history()[-1]["version"]
    # forging the compaction marker through extra_meta must NOT bypass the
    # CHECK — the maintenance exemption is an internal flag only
    with pytest.raises(ConstraintViolation):
        t.overwrite_partitions(
            bad, partition_values=["2024-01-01"], extra_meta={"compacted": True}
        )
    assert t.history()[-1]["version"] == v
    assert t.read().where(F.col("day") == "1999-12-31").count() == 0

"""mtable type widening: lossless UP-casts accepted without rewriting a
byte.  Files keep their narrow physical types; the manifest takes the
wide type and widened tables read under the manifest's explicit schema
(Spark's parquet reader performs the up-cast inside the scan — the set
under test is exactly the reader-verified lossless one: integer chain,
float -> double, <=int32 -> double, same-scale decimal precision).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from retailfeaturestore_spark.sources.mtable import MTable


def _narrow(spark, rows):
    return spark.createDataFrame(
        rows, "id int, qty int, price float, day string"
    )


def _wide(spark, rows):
    return spark.createDataFrame(
        rows, "id bigint, qty bigint, price double, day string"
    )


BASE = [(1, 10, 1.5, "2024-01-01"), (2, 20, 2.5, "2024-01-02")]


def test_widening_append_keeps_old_files_and_upcasts_reads(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "t"))
    t.write(_narrow(spark, BASE), partition_by="day", stats_cols=["qty"])
    files_v1 = set(t.read().inputFiles())
    with pytest.raises(ValueError, match="allow_widening"):
        t.write(
            _wide(spark, [(3_000_000_000, 30, 3.5, "2024-01-03")]),
            mode="append",
        )
    t.write(
        _wide(spark, [(3_000_000_000, 30, 3.5, "2024-01-03")]),
        mode="append",
        allow_widening=True,
    )
    df = t.read()
    # old files carried by reference, no rewrite
    assert files_v1 <= set(df.inputFiles())
    assert df.schema["id"].dataType.simpleString() == "bigint"
    assert df.schema["price"].dataType.simpleString() == "double"
    got = {r["id"]: (r["qty"], r["price"]) for r in df.collect()}
    assert got[1] == (10, 1.5) and got[3_000_000_000] == (30, 3.5)
    assert t.describe()["widened"] is True
    assert t.describe()["schema"]["id"] == "bigint"


def test_narrow_append_to_widened_table_is_accepted(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "t"))
    t.write(_narrow(spark, BASE), partition_by="day")
    t.write(
        _wide(spark, [(3, 30, 3.5, "2024-01-03")]),
        mode="append",
        allow_widening=True,
    )
    # the original NARROW frame appends again: manifest keeps the wide type
    t.write(
        _narrow(spark, [(4, 40, 4.5, "2024-01-04")]),
        mode="append",
        allow_widening=True,
    )
    df = t.read()
    assert df.schema["id"].dataType.simpleString() == "bigint"
    assert df.count() == 4


def test_non_widening_retype_still_raises(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "t"))
    t.write(_wide(spark, [(1, 10, 1.5, "2024-01-01")]), partition_by="day")
    down = _narrow(spark, [(2, 20, 2.5, "2024-01-02")])
    # bigint -> int on a non-widened table is a NARROWING mismatch
    with pytest.raises(ValueError, match="not additive"):
        t.write(
            down.withColumn("day", F.concat(F.col("day"), F.lit(""))).select(
                F.col("id"),
                F.col("qty"),
                F.col("price").cast("string").alias("price"),
                "day",
            ),
            mode="append",
            allow_widening=True,
        )


def test_dml_and_dv_on_widened_table(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "t"))
    t.write(_narrow(spark, BASE), partition_by="day", stats_cols=["qty"])
    t.write(
        _wide(spark, [(3, 30, 3.5, "2024-01-03")]),
        mode="append",
        allow_widening=True,
    )
    # copy-on-write UPDATE reads wide, rewrites candidates wide
    t.update("qty = 20", {"price": F.lit(9.5)})
    got = {r["id"]: r["price"] for r in t.read().collect()}
    assert got[2] == 9.5 and got[1] == 1.5
    # deletion vectors resolve _metadata under the explicit schema
    t.delete_positions("qty = 30", prune=[("qty", "=", 30)])
    assert {r["id"] for r in t.read().collect()} == {1, 2}
    # copy-on-write DELETE
    t.delete("qty = 10", prune=[("qty", "=", 10)])
    assert {r["id"] for r in t.read().collect()} == {2}


def test_feed_and_restore_carry_widening(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "t"))
    t.write(_narrow(spark, BASE), partition_by="day")  # v1
    t.write(
        _wide(spark, [(3, 30, 3.5, "2024-01-03")]),
        mode="append",
        allow_widening=True,
    )  # v2
    ch = t.read_changes(0)
    assert ch.schema["id"].dataType.simpleString() == "bigint"
    assert {r["id"] for r in ch.collect()} == {1, 2, 3}
    t.restore(1)  # v1 was all-narrow: its schema (and reads) are narrow
    assert t.describe()["schema"]["id"] == "int"
    assert t.describe()["widened"] is False
    assert t.read().schema["id"].dataType.simpleString() == "int"


def test_widening_composes_with_rename(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "t"))
    t.write(_narrow(spark, BASE), partition_by="day")
    t.rename_column("qty", "quantity")
    add = spark.createDataFrame(
        [(5, 50, 5.5, "2024-01-05")],
        "id bigint, quantity bigint, price double, day string",
    )
    t.write(add, mode="append", allow_widening=True)
    df = t.read()
    assert df.schema["quantity"].dataType.simpleString() == "bigint"
    got = {r["id"]: r["quantity"] for r in df.collect()}
    assert got[1] == 10 and got[5] == 50
    # time travel to v1 (pre-rename, pre-widen): original names and widths
    v1 = t.read(version=1)
    assert v1.schema["qty"].dataType.simpleString() == "int"

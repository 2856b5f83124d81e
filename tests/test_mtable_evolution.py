"""mtable schema changes outside a full overwrite.

Appends, partition overwrites and merges keep the table's column set:
adding a column or a non-widening retype raises, a lossless up-cast needs
``allow_widening``, and a full overwrite is the one path that changes the
schema.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from retailfeaturestore_spark.sources.mtable import MTable


def _v1(spark):
    return spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "a"), (3, 30.0, "b")],
        "k int, v double, d string",
    )


def _v2_extra(spark):
    return spark.createDataFrame(
        [(4, 40.0, "low", "b"), (5, 50.0, "high", "c")],
        "k int, v double, tier string, d string",
    )


def test_append_evolves_additively_and_nullfills(spark, tmp_path):
    # an append that adds a column raises; only a full overwrite evolves
    t = MTable(spark, str(tmp_path / "ev"))
    t.write(_v1(spark), partition_by="d")
    with pytest.raises(ValueError, match="adds columns"):
        t.write(_v2_extra(spark), mode="append", partition_by="d")
    # the refused commit left the table as it was
    assert t.versions() == [1]
    assert "tier" not in t.read().columns
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, 10.0), (2, 20.0), (3, 30.0)}
    # a full overwrite replaces the schema
    t.write(_v2_extra(spark), partition_by="d")
    assert {(r.k, r.tier) for r in t.read().collect()} == {(4, "low"), (5, "high")}


def test_merge_evolves_and_survivors_take_nulls(spark, tmp_path):
    # a merge that adds a column raises and commits nothing
    t = MTable(spark, str(tmp_path / "evm"))
    t.write(_v1(spark), partition_by="d")
    upd = spark.createDataFrame(
        [(2, 21.0, "gold")], "k int, v double, tier string"
    )
    with pytest.raises(ValueError, match="add columns"):
        t.merge_upsert(upd, keys=["k"], partition_col_value=F.lit("a"))
    assert t.versions() == [1]
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, 10.0), (2, 20.0), (3, 30.0)}
    assert {r.k for r in t.read(partitions=["b"]).collect()} == {3}


def test_nonadditive_changes_always_raise(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "evx"))
    t.write(_v1(spark), partition_by="d")
    dropped = spark.createDataFrame([(9, "a")], "k int, d string")
    with pytest.raises(ValueError, match="not additive"):
        t.write(dropped, mode="append", partition_by="d")
    # a retype in the LOSSLESS widening family is no longer categorically
    # refused — but it still raises without the explicit allow_widening flag
    retyped = spark.createDataFrame([(9, 1, "a")], "k int, v int, d string")
    with pytest.raises(ValueError, match="allow_widening"):
        t.write(retyped, mode="append", partition_by="d")
    # a non-widening retype is refused regardless of flags
    restring = spark.createDataFrame([(9, "x", "a")], "k int, v string, d string")
    with pytest.raises(ValueError, match="not additive"):
        t.write(
            restring,
            mode="append",
            partition_by="d",
            allow_widening=True,
        )

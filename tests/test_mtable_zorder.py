"""OPTIMIZE ZORDER BY: multi-dimensional clustering compaction.

A 32x32 (x, y) grid in one partition, z-order-compacted into 16 files,
must prune files for BOX predicates and for the NON-LEADING dimension —
the capability a single-column sort cannot provide (the linear layout is
built alongside as the contrast).  Row sets stay byte-identical.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from retailfeaturestore_spark.sources.mtable import MTable


def _grid_df(spark):
    rows = [(i // 32, i % 32, i, "1") for i in range(1024)]
    random.Random(3).shuffle(rows)
    return spark.createDataFrame(rows, "x int, y int, payload int, d string")


def test_zorder_compact_prunes_boxes_and_nonleading_dimension(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "z"))
    t.write(
        _grid_df(spark).repartition(4),
        partition_by="d",
        stats_cols=["x", "y"],
    )
    before = {(r.x, r.y, r.payload) for r in t.read().collect()}

    v = t.compact(zorder_by=["x", "y"], files_per_partition=16)
    assert v == 2
    m = t._read_manifest(v)
    assert m["meta"]["zorder_by"] == ["x", "y"]
    n_files = len(m["partitions"]["1"])
    assert n_files >= 8, n_files  # range-split actually split

    # rows byte-identical through the rewrite
    after = {(r.x, r.y, r.payload) for r in t.read().collect()}
    assert after == before

    full = t.read()
    # 4x4 box probe: a z-clustered layout confines it to a few slabs
    box = t.read(prune=[("x", ">=", 8), ("x", "<=", 11), ("y", ">=", 8), ("y", "<=", 11)])
    assert len(box.inputFiles()) <= max(4, n_files // 4), (
        len(box.inputFiles()),
        n_files,
    )
    got = {
        (r.x, r.y)
        for r in box.where("x between 8 and 11 and y between 8 and 11").collect()
    }
    assert got == {(x, y) for x in range(8, 12) for y in range(8, 12)}

    # NON-LEADING dimension prunes too — the z-order point
    yq = t.read(prune=[("y", ">=", 24)])
    assert len(yq.inputFiles()) < n_files
    got_y = {(r.x, r.y) for r in yq.where("y >= 24").collect()}
    assert got_y == {(x, y) for x in range(32) for y in range(24, 32)}


def test_linear_sort_cannot_prune_nonleading_dimension(spark, tmp_path):
    """Contrast fixture: the same grid range-split on x ALONE — an x
    predicate prunes, but every x-slab spans all of y, so a y predicate
    reads every file.  (This is the gap zorder_by closes.)"""
    t = MTable(spark, str(tmp_path / "lin"))
    df = _grid_df(spark).repartitionByRange(16, F.col("x")).sortWithinPartitions("x")
    t.write(df, partition_by="d", stats_cols=["x", "y"])
    m = t._read_manifest(1)
    n_files = len(m["partitions"]["1"])
    assert n_files >= 8
    xq = t.read(prune=[("x", ">=", 28)])
    assert len(xq.inputFiles()) < n_files  # leading dim: prunes
    yq = t.read(prune=[("y", ">=", 24)])
    assert len(yq.inputFiles()) == n_files  # non-leading: cannot prune


def test_multitask_multipartition_stats_attach_to_the_right_files(spark, tmp_path):
    """Regression: a multi-task write emits the SAME part-<task>-<job>
    basename into every partition dir it touches; stats keyed by basename
    alone attached one file's min/max to another and data skipping then
    pruned LIVE files.  Per-file stats must round-trip by (partition dir,
    filename), and a stats-pruned read must equal the plain filter."""
    rows = [(i % 7, float(i), f"d{i % 5}") for i in range(2000)]
    df = spark.createDataFrame(rows, "k int, v double, d string").repartition(6)
    t = MTable(spark, str(tmp_path / "mt"))
    t.write(df, partition_by="d", stats_cols=["k", "v"])
    m = t._read_manifest(1)
    all_rels = [rel for files in m["partitions"].values() for rel in files]
    # every staged file has its OWN stats entry
    assert set(m["stats"]) == set(all_rels)
    # per-file stats are actually per-file: verify one partition's file
    # bounds against a direct read of that exact file
    pval, files = next(iter(m["partitions"].items()))
    for rel in files:
        got = spark.read.parquet(f"{t.path}/{rel}").agg(
            F.min("v"), F.max("v")
        ).collect()[0]
        ent = m["stats"][rel]["v"]
        assert (ent["mn"], ent["mx"]) == (got[0], got[1]), rel
    # and pruning never loses rows
    want = {(r.k, r.v) for r in t.read().where("v >= 1500").collect()}
    got2 = {
        (r.k, r.v)
        for r in t.read(prune=[("v", ">=", 1500.0)]).where("v >= 1500").collect()
    }
    assert got2 == want and len(want) == 500


def test_zorder_validates_columns(spark, tmp_path):
    import pytest

    t = MTable(spark, str(tmp_path / "zv"))
    t.write(_grid_df(spark).repartition(4), partition_by="d")
    with pytest.raises(ValueError, match="not in table"):
        t.compact(zorder_by=["nope"])

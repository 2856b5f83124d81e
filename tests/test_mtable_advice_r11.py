"""Regression tests for the four ADVICE r10 findings on mtable.

1. Partition values pulled out of ``input_file_name()`` carry TWO escaping
   layers (Hive path escaping on disk, URI encoding in the returned path)
   and must decode both — a single fixed-table pass left 'a=b:c' mangled
   as 'a%3Db%3Ac'.
2. ``_restore_partition_cols`` must cast a RETIRED partition column to its
   recorded data-schema type — hardcoding 'string' made the
   when(path).otherwise(data) coercion widen int -> bigint and broke DML
   with a schema-guard error after a double respec.
3. ``overwrite_partitions`` must match caller-supplied TRUE partition
   values the way ``read()`` does (raw against both k and _unq(k)) — the
   old ``_unq(caller value)`` mangled values containing literal %XX and
   left stale files live.
4. ``vacuum(keep_ms=...)`` must retain a CONTIGUOUS version range even
   when commit timestamps are non-monotone (multi-writer clock skew) —
   a hole in the middle deleted a manifest that retained delta manifests
   above it still need for reconstruction.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from retailfeaturestore_spark.sources.mtable import MTable


def _kx(spark, rows):
    return spark.createDataFrame(rows, "k string, x long")


# --- ADVICE #1: two-layer path escaping --------------------------------


def test_partition_value_two_layer_escape_roundtrip(spark, tmp_path):
    # every value exercises a different corner: Hive-escaped chars (= :),
    # a literal %XX sequence ('a%20b' must NOT come back as 'a b'), a raw
    # space (URI layer only), a raw '+' (URLDecoder's plus-as-space trap),
    # and a literal '%' (escaped on disk, double-encoded in the URI)
    vals = ["a=b:c", "a%20b", "x y", "p+q", "pct%val", "plain"]
    t = MTable(spark, str(tmp_path / "esc"))
    t.write(_kx(spark, [(v, i) for i, v in enumerate(vals)]), partition_by="k")
    out = {(r.k, r.x) for r in t.read().collect()}
    assert out == {(v, i) for i, v in enumerate(vals)}


def test_typed_partition_with_colon_casts_back(spark, tmp_path):
    # a TIMESTAMP partition value renders with ':' in the directory name
    # (Hive-escaped %3A, URI-encoded %253A): under the old single-layer
    # decode the restored string kept '%3A' and the typed cast nulled it
    df = spark.createDataFrame(
        [("g1", "2024-01-01 10:00:00", 1), ("g2", "2024-01-02 11:30:00", 2)],
        "g string, ts string, x long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    t = MTable(spark, str(tmp_path / "typed"))
    t.write(df, partition_by="g")
    t.repartition_table("ts")  # records partition_type=timestamp
    t.write(
        spark.createDataFrame(
            [("g3", "2024-01-03 12:45:00", 3)], "g string, ts string, x long"
        ).withColumn("ts", F.col("ts").cast("timestamp")),
        mode="append",
    )
    got = t.read().orderBy("x").collect()
    assert [str(r.ts) for r in got] == [
        "2024-01-01 10:00:00",
        "2024-01-02 11:30:00",
        "2024-01-03 12:45:00",
    ]
    assert [r.g for r in got] == ["g1", "g2", "g3"]


# --- ADVICE #2: retired partition column keeps its recorded type -------


def test_legacy_partition_type_survives_double_respec(spark, tmp_path):
    schema = "a string, k int, b string, x long"
    t = MTable(spark, str(tmp_path / "respec2"))
    t.write(
        spark.createDataFrame([("a1", 1, "b1", 10), ("a2", 2, "b2", 20)], schema),
        partition_by="a",
    )
    t.repartition_table("k")
    # files written UNDER the k spec make k a legacy pby after the next respec
    t.write(spark.createDataFrame([("a3", 3, "b3", 30)], schema), mode="append")
    t.repartition_table("b")
    got = t.read()
    # the retired int partition column must read back as int, not the
    # string/bigint the path-branch coercion used to widen it to
    assert dict(got.dtypes)["k"] == "int"
    assert {(r.a, r.k, r.b, r.x) for r in got.collect()} == {
        ("a1", 1, "b1", 10),
        ("a2", 2, "b2", 20),
        ("a3", 3, "b3", 30),
    }
    # DML re-stages through the same restore: the schema guard used to
    # raise "update changed the schema: k:bigint != k:int" here
    t.update(F.col("x") == 10, {"x": F.lit(11)})
    assert {(r.k, r.x) for r in t.read().collect()} == {
        (1, 11),
        (2, 20),
        (3, 30),
    }


# --- ADVICE #3: overwrite_partitions on literal-%XX values -------------


def test_overwrite_partitions_literal_percent_value(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "ovw"))
    t.write(_kx(spark, [("a%20b", 1), ("plain", 2)]), partition_by="k")
    # replace: the staged dir overwrite masked the bug when the partition
    # was present in df, but the stale-entry removal must ALSO match
    t.overwrite_partitions(
        _kx(spark, [("a%20b", 9)]), partition_values=["a%20b"]
    )
    assert {(r.k, r.x) for r in t.read().collect()} == {
        ("a%20b", 9),
        ("plain", 2),
    }
    # drop: named in partition_values but ABSENT from df — the old
    # _unq(caller value) match kept the stale files (duplicate rows)
    t.overwrite_partitions(_kx(spark, []), partition_values=["a%20b"])
    assert {(r.k, r.x) for r in t.read().collect()} == {("plain", 2)}


def test_overwrite_partitions_true_values_only(spark, tmp_path):
    # ADVICE r12 #1 retired the dual raw/unescaped match: callers speak
    # TRUE values only, and an escaped manifest key of a DIFFERENT true
    # value raises instead of silently dropping the wrong partition
    # (':' is in the writer's Hive escape set, so TRUE 'a:b' has manifest
    # key 'a%3Ab')
    t = MTable(spark, str(tmp_path / "ovw2"))
    t.write(_kx(spark, [("a:b", 1), ("a:c", 3), ("plain", 2)]), partition_by="k")
    with pytest.raises(ValueError, match="TRUE .* partition"):
        t.overwrite_partitions(_kx(spark, []), partition_values=["a%3Ab"])
    t.overwrite_partitions(_kx(spark, []), partition_values=["a:b"])
    t.overwrite_partitions(_kx(spark, []), partition_values=["a:c"])
    assert {(r.k, r.x) for r in t.read().collect()} == {("plain", 2)}


def test_overwrite_partitions_colliding_escape_layer_values(spark, tmp_path):
    # ADVICE r12 #1 data-loss scenario: TRUE 'a b' (manifest key 'a%20b')
    # and TRUE 'a%20b' (manifest key 'a%2520b') are distinct partitions;
    # replacing the literal-percent one must not touch the space one.
    # The retired dual-match removed BOTH keys but restaged only one —
    # the 'a b' partition's files silently vanished.
    t = MTable(spark, str(tmp_path / "ovwcol"))
    t.write(_kx(spark, [("a b", 1), ("a%20b", 2), ("plain", 3)]), partition_by="k")
    t.overwrite_partitions(
        _kx(spark, [("a%20b", 9)]), partition_values=["a%20b"]
    )
    assert {(r.k, r.x) for r in t.read().collect()} == {
        ("a b", 1),
        ("a%20b", 9),
        ("plain", 3),
    }
    # the space partition stays addressable by its own TRUE value
    t.overwrite_partitions(_kx(spark, []), partition_values=["a b"])
    assert {(r.k, r.x) for r in t.read().collect()} == {
        ("a%20b", 9),
        ("plain", 3),
    }


def test_compact_selects_by_true_value_and_preserves_collisions(spark, tmp_path):
    # compact() unescapes its manifest keys at the overwrite hand-off, so
    # a maintenance rewrite of 'a%20b' never swallows the 'a b' partition
    t = MTable(spark, str(tmp_path / "cmpcol"))
    t.write(_kx(spark, [("a b", 1), ("a%20b", 2)]), partition_by="k")
    t.write(_kx(spark, [("a b", 11), ("a%20b", 12)]), mode="append")
    v = t.compact()
    m = t._read_manifest(v)
    assert all(len(files) == 1 for files in m["partitions"].values())
    assert {(r.k, r.x) for r in t.read().collect()} == {
        ("a b", 1),
        ("a b", 11),
        ("a%20b", 2),
        ("a%20b", 12),
    }
    # a later compact rewrites only the partition the append split
    t.write(_kx(spark, [("a b", 21)]), mode="append")
    v2 = t.compact()
    m2 = t._read_manifest(v2)
    assert all(len(files) == 1 for files in m2["partitions"].values())
    assert {(r.k, r.x) for r in t.read().collect()} == {
        ("a b", 1),
        ("a b", 11),
        ("a b", 21),
        ("a%20b", 2),
        ("a%20b", 12),
    }


# --- ADVICE #4: vacuum keep_ms contiguity under clock skew -------------


def test_vacuum_keep_ms_clock_skew_keeps_contiguous_range(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "skew"))
    t.write(_kx(spark, [("p", 1)]), partition_by="k")
    for x in (2, 3, 4):
        t.merge_upsert(_kx(spark, [("p", x)]), ["k"])
    assert t.versions() == [1, 2, 3, 4]
    # simulate a skewed writer clock: v2's commit timestamp lands in the
    # distant past while v1/v3/v4 are recent
    mp = t._manifest_path(2)
    raw = json.loads(open(mp).read())
    raw["committed_at_ms"] = 1000
    with open(mp, "w") as f:
        json.dump(raw, f)
    # drop Hadoop LocalFS's checksum sidecar — the hand-edit invalidated it
    import os

    crc = os.path.join(os.path.dirname(mp), "." + os.path.basename(mp) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    t2 = MTable(spark, str(tmp_path / "skew"))  # fresh handle, no caches
    # keep_versions=1 retains {4}; keep_ms qualifies v1/v3/v4 but not v2.
    # The retained set must be forced contiguous from v1 — the old code
    # kept {1,3,4} and deleted v2's manifest, severing v3's delta chain.
    t2.vacuum(keep_versions=1, min_age_ms=0, keep_ms=3_600_000)
    assert t2.versions() == [1, 2, 3, 4]
    t3 = MTable(spark, str(tmp_path / "skew"))
    assert {(r.k, r.x) for r in t3.read(version=3).collect()} == {("p", 3)}
    assert {(r.k, r.x) for r in t3.read(version=2).collect()} == {("p", 2)}


# --- r12 review refinements on the TRUE-values guard --------------------


def test_overwrite_creates_new_partition_colliding_with_escaped_key(
    spark, tmp_path
):
    """r12 review finding #2: TRUE 'a b' exists (manifest key 'a%20b'),
    TRUE 'a%20b' does NOT.  Creating the literal-percent partition is a
    legitimate new write under the TRUE-values contract — the old guard
    false-positived on it, and its error message recommended passing
    'a b', which would have dropped the WRONG partition."""
    t = MTable(spark, str(tmp_path / "ovwnew"))
    t.write(_kx(spark, [("a b", 1), ("plain", 2)]), partition_by="k")
    t.overwrite_partitions(
        _kx(spark, [("a%20b", 9)]), partition_values=["a%20b"]
    )
    assert {(r.k, r.x) for r in t.read().collect()} == {
        ("a b", 1),
        ("a%20b", 9),
        ("plain", 2),
    }


def test_merge_upsert_into_new_colliding_partition(spark, tmp_path):
    """Same exemption on the merge path: upserting rows whose NEW true
    partition value collides with an existing partition's escaped key
    must not trip the retired-convention guard."""
    t = MTable(spark, str(tmp_path / "mrgnew"))
    t.write(_kx(spark, [("a b", 1)]), partition_by="k")
    t.merge_upsert(_kx(spark, [("a%20b", 9)]), keys=["x"])
    assert {(r.k, r.x) for r in t.read().collect()} == {
        ("a b", 1),
        ("a%20b", 9),
    }


def test_read_fails_loud_on_escaped_key_misuse(spark, tmp_path):
    """r12 review finding: the retired escaped-key convention failed loud
    only in overwrite_partitions; read() silently returned None — a
    silent-wrong behavior for the same caller mistake.  It now raises."""
    t = MTable(spark, str(tmp_path / "loud"))
    t.write(
        _kx(spark, [("a:b", 1), ("a:b", 2), ("plain", 3)]),
        partition_by="k",
        stats_cols=["x"],
    )
    with pytest.raises(ValueError, match="read: .*escaped"):
        t.read(partitions=["a%3Ab"])
    # the TRUE value keeps working
    assert t.read(partitions=["a:b"]).count() == 2
    # a simply-nonexistent value (no key collision) stays a quiet miss:
    # read None — that is the normal empty-selection path
    assert t.read(partitions=["nope"]) is None

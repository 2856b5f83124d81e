"""Per-file bloom filters: equality-probe data skipping where min/max
cannot prune (keys uncorrelated with file layout), python probe replaying
the Spark-side md5 arithmetic exactly, inheritance through merge/compact,
and the no-false-negative guarantee.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from retailfeaturestore_spark.sources.mtable import (
    MTable,
    _bloom_may_contain,
)


def _uniform(spark, n=2000):
    # every file gets a full spread of k: min/max can never prune a point
    rows = [(i, f"u{i % 97}", "1") for i in range(n)]
    return spark.createDataFrame(rows, "k long, tag string, d string")


def test_bloom_prunes_point_lookups_minmax_cannot(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "bl"))
    t.write(
        _uniform(spark).repartition(8),
        partition_by="d",
        stats_cols=["k"],
        bloom_cols=["k"],
        bloom_bits=4096,
    )
    m = t._read_manifest(1)
    files = m["partitions"]["1"]
    assert len(files) == 8
    for rel in files:
        ent = m["stats"][rel]["k"]
        assert "bf" in ent and ent["bf"]["m"] == 4096
        # layout-uncorrelated key: every file's range straddles any probe
        assert ent["mn"] < 1000 < ent["mx"]
    # the point probe reads a strict subset of files...
    probe = t.read(prune=[("k", "=", 1234)])
    n_probe = len(probe.inputFiles())
    assert n_probe < 8, n_probe
    # ...and NEVER loses the row (no false negatives)
    assert [r.k for r in probe.where("k = 1234").collect()] == [1234]
    # absent key: typically every file pruned -> read returns None or
    # a bloom-fp subset that filters to nothing
    miss = t.read(prune=[("k", "=", 999_999)])
    assert miss is None or miss.where("k = 999999").count() == 0


def test_every_present_key_survives_pruning(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "blfn"))
    t.write(
        _uniform(spark, 500).repartition(4),
        partition_by="d",
        bloom_cols=["k"],
        bloom_bits=1024,
    )
    for k in range(0, 500, 37):  # systematic sample of present keys
        got = t.read(prune=[("k", "=", k)]).where(F.col("k") == k).collect()
        assert [r.k for r in got] == [k], k


def test_string_blooms_and_python_probe_parity(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "blstr"))
    t.write(
        _uniform(spark).repartition(4),
        partition_by="d",
        bloom_cols=["tag"],
    )
    m = t._read_manifest(1)
    ent = next(iter(m["stats"].values()))["tag"]["bf"]
    # every file contains every tag (97 tags x 2000 rows spread) -> all true
    assert _bloom_may_contain(ent, "u5")
    # float probes refuse to consult the bloom (conservative)
    assert _bloom_may_contain(ent, 1.5)
    pruned = t.read(prune=[("tag", "=", "u5")])
    assert {r.tag for r in pruned.where("tag = 'u5'").collect()} == {"u5"}


def test_double_column_bloom_never_false_negatives_int_probe(spark, tmp_path):
    # ADVICE r9: the build hashes CAST(col AS STRING); a DOUBLE column
    # renders 7.0 as "7.0" while an int probe used to hash "7" -> bloom
    # false negative -> read() silently pruned files CONTAINING the rows.
    # The bloom now records the column type and refuses probes whose
    # python rendering isn't provably Spark's.
    t = MTable(spark, str(tmp_path / "bldbl"))
    rows = [(float(i), "1") for i in range(200)]
    t.write(
        spark.createDataFrame(rows, "x double, d string").repartition(4),
        partition_by="d",
        bloom_cols=["x"],
    )
    m = t._read_manifest(1)
    ent = next(iter(m["stats"].values()))["x"]["bf"]
    assert ent["t"] == "double"
    # int probe must NOT be pruned by the bloom (it would have been before)
    assert _bloom_may_contain(ent, 7)
    got = t.read(prune=[("x", "=", 7)]).where("x = 7.0").collect()
    assert [r.x for r in got] == [7.0]


def test_bloom_key_type_gating(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "blgate"))
    t.write(
        _uniform(spark, 300).repartition(2),
        partition_by="d",
        bloom_cols=["k", "tag"],
    )
    m = t._read_manifest(1)
    ent = next(iter(m["stats"].values()))
    assert ent["k"]["bf"]["t"] == "bigint"
    assert ent["tag"]["bf"]["t"] == "string"
    # integral column: int and integral-float probes render identically;
    # bool probes never match CAST(int AS STRING)
    kbf = ent["k"]["bf"]
    assert _bloom_may_contain(kbf, 5) == _bloom_may_contain(kbf, 5.0)
    assert _bloom_may_contain(kbf, True)  # refused -> conservative True
    # string column: int probe refused -> conservative True
    assert _bloom_may_contain(ent["tag"]["bf"], 12345)
    # present keys still prune-and-survive through the typed path
    got = t.read(prune=[("k", "=", 123)]).where("k = 123").collect()
    assert [r.k for r in got] == [123]


def test_blooms_inherit_through_merge_and_compact(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "blmg"))
    t.write(
        _uniform(spark, 1000).repartition(4),
        partition_by="d",
        stats_cols=["k"],
        bloom_cols=["k"],
    )
    upd = spark.createDataFrame([(5000, "zz", "1")], "k long, tag string, d string")
    t.merge_upsert(upd, keys=["k"], partition_col_value=F.lit("1"))
    m = t._read_manifest(2)
    # every staged file re-bloomed with the inherited column set
    for rel in m["partitions"]["1"]:
        assert "bf" in m["stats"][rel]["k"], rel
    # the merged-in key is findable through the bloom path
    got = t.read(prune=[("k", "=", 5000)]).where("k = 5000").collect()
    assert [(r.k, r.tag) for r in got] == [(5000, "zz")]
    # compact keeps blooms alive too
    v = t.compact()
    m2 = t._read_manifest(v)
    for rel in m2["partitions"]["1"]:
        assert "bf" in m2["stats"][rel]["k"], rel
    assert t.read(prune=[("k", "=", 777)]).where("k = 777").count() == 1

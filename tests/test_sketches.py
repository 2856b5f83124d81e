"""KMV distinct-value sketch: pure-python differential + invariants.

The operator is deterministic (md5 hashes), so an independent python
re-implementation must reproduce the sketch rows AND every pairwise
estimate bit-for-bit — the same differential style as the minhash and
rank-engine suites.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from retailfeaturestore_spark.operators.sketches import (
    kmv_group_sketch_packed,
    kmv_hash,
    kmv_pair_overlap,
)

_SPAN = float(2**56)


def _py_hash(v) -> int:
    return int(hashlib.md5(f"kmv#{v}".encode()).hexdigest()[:14], 16)


def _py_sketch(values, k):
    return sorted({_py_hash(v) for v in values})[:k]


def _py_overlap(sa, sb, k):
    merged = sorted(set(sa) | set(sb))[:k]
    ku, hk = len(merged), merged[-1]
    union_est = float(ku) if ku < k else float(k - 1) / ((hk + 1.0) / _SPAN)
    n_both = len([h for h in set(sa) & set(sb) if h <= hk])
    jacc = n_both / float(ku)
    return ku, union_est, jacc, jacc * union_est


def _groups(spark, data):
    return spark.createDataFrame(
        [(g, v) for g, vs in data.items() for v in vs], "g string, v long"
    )


def test_kmv_hash_matches_python(spark):
    df = spark.range(50).select(kmv_hash(F.col("id")).alias("h"), "id")
    for r in df.collect():
        assert r.h == _py_hash(r.id)


def test_sketch_matches_python_and_degrades_to_exact(spark):
    data = {
        "a": list(range(1000)),          # > k: real sketch
        "b": list(range(500, 1500)),     # overlaps a
        "c": [1, 2, 3],                  # < k: exact set kept whole
    }
    k = 64
    sk = kmv_group_sketch_packed(_groups(spark, data), "g", "v", k=k)
    got = {r.g: list(r.hs) for r in sk.collect()}
    for g, vs in data.items():
        assert got[g] == _py_sketch(vs, k), g
    assert len(got["c"]) == 3  # graceful exact degradation


def test_pair_overlap_matches_python_including_floats(spark):
    data = {
        "a": list(range(1000)),
        "b": list(range(500, 1500)),
        "c": list(range(2000, 2040)),   # tiny group: exact path
        "d": list(range(2020, 2060)),   # overlaps c, both exact
    }
    k = 64
    df = _groups(spark, data)
    sk = kmv_group_sketch_packed(df, "g", "v", k=k)
    pairs = spark.createDataFrame(
        [("a", "b"), ("c", "d"), ("a", "c")], "group_a string, group_b string"
    )
    got = {(r.group_a, r.group_b): r for r in kmv_pair_overlap(sk, pairs, "g", k=k).collect()}
    assert set(got) == {("a", "b"), ("c", "d"), ("a", "c")}
    for (ga, gb), r in got.items():
        ku, u, j, i = _py_overlap(_py_sketch(data[ga], k), _py_sketch(data[gb], k), k)
        assert r.ku == ku
        assert r.union_est == u          # bit-exact: same op order
        assert r.jaccard_est == j
        assert r.inter_est == i


def test_exact_groups_give_exact_set_estimates(spark):
    # both groups under k distinct -> union/intersection are EXACT
    data = {"c": list(range(40)), "d": list(range(20, 60))}
    sk = kmv_group_sketch_packed(_groups(spark, data), "g", "v", k=64)
    pairs = spark.createDataFrame([("c", "d")], "group_a string, group_b string")
    r = kmv_pair_overlap(sk, pairs, "g", k=64).collect()[0]
    assert r.union_est == 60.0
    assert r.inter_est == 20.0


def _py_tuple_overlap(sketches, k):
    merged = sorted(set().union(*sketches))[:k]
    ku, hk = len(merged), merged[-1]
    union_est = float(ku) if ku < k else float(k - 1) / ((hk + 1.0) / _SPAN)
    common = set(sketches[0])
    for s in sketches[1:]:
        common &= set(s)
    n_all = len([h for h in common if h <= hk])
    return ku, union_est, (n_all / float(ku)) * union_est


def test_tuple_overlap_matches_python_three_way(spark):
    from retailfeaturestore_spark.operators.sketches import kmv_tuple_overlap

    data = {
        "a": list(range(0, 1000)),
        "b": list(range(300, 1300)),
        "c": list(range(600, 1600)),   # a∩b∩c = 600..999 (400 values)
        "d": list(range(5000, 5020)),  # disjoint tiny group
    }
    k = 64
    sk = kmv_group_sketch_packed(_groups(spark, data), "g", "v", k=k)
    trips = spark.createDataFrame(
        [("a", "b", "c"), ("a", "b", "d")], "g1 string, g2 string, g3 string"
    )
    got = {
        (r.g1, r.g2, r.g3): r
        for r in kmv_tuple_overlap(sk, trips, ["g1", "g2", "g3"], "g", k=k).collect()
    }
    for names in (("a", "b", "c"), ("a", "b", "d")):
        ku, u, i = _py_tuple_overlap([_py_sketch(data[n], k) for n in names], k)
        r = got[names]
        assert r.ku == ku
        assert r.union_est == u
        assert r.inter_est == i
    # the disjoint triple estimates zero exactly
    assert got[("a", "b", "d")].inter_est == 0.0


def test_tournament_equals_single_window_topk(spark):
    # the fanout tournament must select EXACTLY the k smallest hashes
    import random

    rnd = random.Random(7)
    vals = rnd.sample(range(10**9), 5000)
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v long")
    k = 100
    got = list(kmv_group_sketch_packed(df, "g", "v", k=k, fanout=16).collect()[0].hs)
    assert got == _py_sketch(vals, k)

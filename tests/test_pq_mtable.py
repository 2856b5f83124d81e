"""The ANN index AS AN ACID TABLE (r10): PQ codes committed as mtable
versions with the codebooks riding the same atomic manifest commit —
atomic publish/rollback, index time travel (search any retained version
bit-for-bit), OCC appends, snapshot-isolated compaction.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from retailfeaturestore_spark.operators.similarity import (
    append_pq_index_mtable,
    build_pq_index,
    build_pq_index_mtable,
    search_pq_index,
    search_pq_index_mtable,
)
from retailfeaturestore_spark.sources.mtable import MTable

from conftest import requires_testdata

SF = "/root/testdata/sf0.001"


def _emb(spark, lo=0, hi=400):
    from retailfeaturestore_spark.io import load_table

    e = load_table(spark, SF, "embeddings")
    return e.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))


def _queries(spark, n=3):
    rows = _emb(spark).where(F.col("vec_id") < n).collect()
    return [(9000 + int(r.vec_id), list(r.embedding)) for r in rows]


@requires_testdata
def test_table_index_matches_directory_backend(spark, tmp_path):
    emb = _emb(spark)
    idx_dir = str(tmp_path / "pq_dir")
    build_pq_index(emb, idx_dir, m=4, k_codes=8, iters=2)
    t = MTable(spark, str(tmp_path / "pq_tbl"))
    v = build_pq_index_mtable(emb, t, m=4, k_codes=8, iters=2)
    assert v == 1
    q = _queries(spark)
    a = search_pq_index(spark, idx_dir, q, k_neighbors=5)
    b = search_pq_index_mtable(t, q, k_neighbors=5)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # the codes table is partitioned by the first subspace code
    m1 = t._read_manifest(1)
    assert m1["partition_by"] == "c0"
    assert (m1["meta"]["pq"]["m"], m1["meta"]["pq"]["k_codes"]) == (4, 8)


@requires_testdata
def test_append_parity_and_time_travel_search(spark, tmp_path):
    base, extra = _emb(spark, 0, 300), _emb(spark, 300, 400)
    t = MTable(spark, str(tmp_path / "pq_tbl2"))
    v1 = build_pq_index_mtable(base, t, m=4, k_codes=8, iters=2)
    q = _queries(spark)
    pre = search_pq_index_mtable(t, q, k_neighbors=5).collect()
    v2 = append_pq_index_mtable(t, extra)
    assert (v1, v2) == (1, 2)
    # (the appended codes' python-replay parity is
    # test_dedup_similarity::test_pq_index_append_encodes_with_frozen_codebooks)
    # TIME TRAVEL: version 1 still answers exactly the pre-append ranking
    # (codes AND codebooks as of v1) — the eval-reproducibility contract
    old = search_pq_index_mtable(t, q, k_neighbors=5, version=1).collect()
    assert {tuple(r) for r in old} == {tuple(r) for r in pre}
    # append never sees its own ids twice
    with pytest.raises(ValueError, match="already exist"):
        append_pq_index_mtable(t, extra)


@requires_testdata
def test_compaction_preserves_search_and_codebook_walkback(spark, tmp_path):
    base = _emb(spark, 0, 300)
    t = MTable(spark, str(tmp_path / "pq_tbl3"))
    build_pq_index_mtable(base, t, m=4, k_codes=8, iters=2)
    for lo in (300, 350):
        append_pq_index_mtable(t, _emb(spark, lo, lo + 50))
    q = _queries(spark)
    before = {tuple(r) for r in search_pq_index_mtable(t, q).collect()}
    v = t.compact()  # compaction meta carries NO pq record
    assert (t._read_manifest_raw(v).get("meta") or {}).get("pq") is None
    # search walks back to the nearest codebook-carrying ancestor
    after = {tuple(r) for r in search_pq_index_mtable(t, q).collect()}
    assert after == before
    files = sum(len(fs) for fs in t._read_manifest(v)["partitions"].values())
    files_pre = sum(
        len(fs) for fs in t._read_manifest(v - 1)["partitions"].values()
    )
    assert files <= files_pre


@requires_testdata
def test_racing_appends_both_land_through_occ(spark, tmp_path, monkeypatch):
    t = MTable(spark, str(tmp_path / "pq_tbl4"))
    build_pq_index_mtable(_emb(spark, 0, 300), t, m=4, k_codes=8, iters=2)
    real_stage = MTable._stage_files
    raced = {}

    def stage_with_race(self, df, partition_by):
        out = real_stage(self, df, partition_by)
        if "done" not in raced:
            raced["done"] = True
            append_pq_index_mtable(
                MTable(spark, t.path), _emb(spark, 350, 400)
            )
        return out

    monkeypatch.setattr(MTable, "_stage_files", stage_with_race)
    v = append_pq_index_mtable(t, _emb(spark, 300, 350))
    monkeypatch.undo()
    assert v == 3  # racer took v2, this append rebased onto it
    ids = {r.id for r in t.read().select("id").collect()}
    assert ids == set(range(400))
    # rebuild rolls the codebooks: a search at the NEW latest uses them,
    # and the pre-rebuild version still answers with the old ones
    pre = {tuple(r) for r in search_pq_index_mtable(t, _queries(spark)).collect()}
    v4 = build_pq_index_mtable(_emb(spark, 0, 400), t, m=4, k_codes=8, iters=2)
    old = {
        tuple(r)
        for r in search_pq_index_mtable(t, _queries(spark), version=v4 - 1).collect()
    }
    assert old == pre


@requires_testdata
def test_append_guards_dims_and_batch_dups(spark, tmp_path):
    t = MTable(spark, str(tmp_path / "pq_tbl5"))
    build_pq_index_mtable(_emb(spark, 0, 300), t, m=4, k_codes=8, iters=2)
    extra = _emb(spark, 300, 310)
    with pytest.raises(ValueError, match="more than once"):
        append_pq_index_mtable(t, extra.unionByName(extra))
    badv = extra.select(
        "vec_id", F.slice("embedding", 1, 7).alias("embedding")
    )
    with pytest.raises(ValueError, match="dims"):
        append_pq_index_mtable(t, badv)
    # failed appends commit nothing
    assert t.versions() == [1]

"""Hybrid RRF fusion + deterministic epoch shuffle: value semantics against
independent local recomputation (the oracle covers engine-vs-DuckDB; these
pin the MATH against plain python)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from retailfeaturestore_spark.queries import REGISTRY

from conftest import requires_testdata

pytestmark = requires_testdata

SF = "/root/testdata/sf0.001"


def test_rrf_fusion_matches_local_recompute(spark):
    """Rebuild the fused ranking in plain python from the two constituent
    lists (bm25_retrieval + dense cosine top-10) and compare exactly."""
    from retailfeaturestore_spark.io import load_table
    from retailfeaturestore_spark.operators.similarity import cosine_topk
    from retailfeaturestore_spark.queries import q_bm25_retrieval

    lex = {
        (r.query_id, r.doc_id): r.rank for r in q_bm25_retrieval(spark, SF).collect()
    }
    emb = load_table(spark, SF, "embeddings")
    dense = {
        (r.q_id, r.n_id): r.rank
        for r in cosine_topk(emb, emb.where(F.col("vec_id") < 3), k=10).collect()
    }
    fused: dict[tuple[int, int], int] = {}
    for k in set(lex) | set(dense):
        s = 0
        if k in lex:
            s += round(1e12 / (60 + lex[k]))
        if k in dense:
            s += round(1e12 / (60 + dense[k]))
        fused[k] = s
    want = {}
    for qid in {k[0] for k in fused}:
        ranked = sorted(
            ((s, d) for (q, d), s in fused.items() if q == qid),
            key=lambda t: (-t[0], t[1]),
        )[:10]
        for i, (s, d) in enumerate(ranked, 1):
            want[(qid, d)] = (i, s)

    got = REGISTRY["hybrid_retrieval_rrf"].fn(spark, SF).collect()
    assert len(got) == len(want)
    for r in got:
        rank, scaled = want[(r.query_id, r.doc_id)]
        assert (r.rank, r.rrf_scaled) == (rank, scaled), r
        assert r.rank_lex == lex.get((r.query_id, r.doc_id))
        assert r.rank_dense == dense.get((r.query_id, r.doc_id))


def test_rrf_keeps_single_list_docs_with_null_other_rank(spark):
    out = REGISTRY["hybrid_retrieval_rrf"].fn(spark, SF).collect()
    assert any(r.rank_lex is None for r in out) or any(
        r.rank_dense is None for r in out
    ), "expected at least one single-list doc in the fused top-10"
    assert all(r.rank_lex is not None or r.rank_dense is not None for r in out)


def test_epoch_shuffle_matches_hashlib_and_is_deterministic(spark):
    rows = REGISTRY["training_shuffle_shards"].fn(spark, SF).collect()
    again = REGISTRY["training_shuffle_shards"].fn(spark, SF).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    by_shard: dict[int, list] = {}
    for r in rows:
        key = hashlib.md5(f"epoch0#{r.doc_id}".encode()).hexdigest()
        assert r.shuffle_key == key
        assert r.shard == int(key[:8], 16) % 8  # 32-bit coin, not one digit
        by_shard.setdefault(r.shard, []).append(r)
    # pos is the exact 1..n position in (key, doc_id) order within the shard
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: (r.shuffle_key, r.doc_id))
        assert [r.pos for r in rs] == list(range(1, len(rs) + 1)), shard


def test_hybrid_reuse_persists_halves_and_rebuild_path_matches(spark):
    """The query memoizes the two half-rankings in the session registry;
    invalidate_caches evicts them and the next call rebuilds from scratch;
    values identical either way."""
    from retailfeaturestore_spark.queries import (
        invalidate_caches,
        q_hybrid_retrieval_rrf,
    )

    invalidate_caches(spark, sf_dir=SF)
    warm = q_hybrid_retrieval_rrf(spark, SF)
    reg = getattr(spark, "_rfs_persisted", {})
    assert ("hybrid_rrf_lex", SF) in reg and ("hybrid_rrf_dense", SF) in reg
    lex_first = reg[("hybrid_rrf_lex", SF)]
    # second call must reuse the SAME persisted frame, not rebuild
    q_hybrid_retrieval_rrf(spark, SF)
    assert reg[("hybrid_rrf_lex", SF)] is lex_first
    warm_rows = sorted(map(tuple, warm.collect()))
    invalidate_caches(spark, sf_dir=SF)
    assert ("hybrid_rrf_lex", SF) not in getattr(spark, "_rfs_persisted", {})
    cold = q_hybrid_retrieval_rrf(spark, SF)
    assert getattr(spark, "_rfs_persisted", {})[("hybrid_rrf_lex", SF)] is not lex_first
    assert sorted(map(tuple, cold.collect())) == warm_rows
    invalidate_caches(spark, sf_dir=SF)

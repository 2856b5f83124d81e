"""Dedup + similarity operator semantics on hand-built corpora."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from retailfeaturestore_spark.operators import dedup, similarity
from retailfeaturestore_spark.operators.dedup import (
    band_rows,
    containment_pairs,
    dedup_exact,
    jaccard_pairs_exact,
    minhash_signatures,
    posting_lists,
    simhash_pairs,
    simhash_signatures,
)
from retailfeaturestore_spark.operators.similarity import cosine_topk, sign_lsh_neardup

from conftest import TESTDATA_SF, requires_testdata


def docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_groups_copies(spark):
    d = docs(spark, [(1, "a b c"), (2, "a b c"), (3, "x y z")])
    out = {r.keep_doc_id: r.n_copies for r in dedup_exact(d).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_finds_near_duplicate(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words in this document about spark engines ok"
    d = docs(spark, [(1, base), (2, near), (3, far)])
    # LSH banding: an equal band key in any band makes a candidate pair
    bands = band_rows(minhash_signatures(posting_lists(d, 3)))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
    )
    # exact verification of the LSH candidates
    pairs = jaccard_pairs_exact(d).join(cand, ["doc_a", "doc_b"])
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (1, 2) in got and all(3 not in p for p in got)


def test_ngram_jaccard_identical_docs_score_1(spark, monkeypatch):
    d = docs(spark, [(1, "a b c d e"), (2, "a b c d e")])
    monkeypatch.setattr(dedup, "JACCARD_THRESHOLD", 0.99)
    out = jaccard_pairs_exact(d).collect()
    assert len(out) == 1 and out[0].jaccard == 1.0


def test_simhash_identical_docs_identical_sig(spark):
    d = docs(spark, [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "q r s t u v w x")])
    sigs = simhash_signatures(d)
    m = {r.doc_id: r.simhash for r in sigs.collect()}
    assert m[1] == m[2] and len(m[1]) == 32 and set(m[1]) <= {"0", "1"}
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(sigs).collect()}
    assert pairs.get((1, 2)) == 0


def test_cosine_topk_exact_neighbor(spark):
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0, 0.0]),   # closest to 0
            (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal
            (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite
        ],
        "vec_id long, embedding array<float>",
    )
    out = cosine_topk(vecs, vecs.where("vec_id = 0"), k=3).collect()
    order = [r.n_id for r in sorted(out, key=lambda r: r.rank)]
    assert order == [1, 2, 3]
    assert abs(out[0].cosine - 0.9938837346736189) < 1e-9  # 0.9/sqrt(0.82)


def test_sign_lsh_catches_identical_vectors(spark, monkeypatch):
    v = [0.5] * 32 + [-0.5] * 32
    vecs = spark.createDataFrame(
        [(0, v), (1, list(v)), (2, [(-1.0) ** i * 0.3 for i in range(64)])],
        "vec_id long, embedding array<float>",
    )
    monkeypatch.setattr(similarity, "SIGN_LSH_THRESHOLD", 0.9)
    out = {(r.vec_a, r.vec_b) for r in sign_lsh_neardup(vecs).collect()}
    assert out == {(0, 1)}


def test_connected_components_chain_and_islands(spark):
    from retailfeaturestore_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter 3), island pair 10-11, triangle 20-21-22
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long",
    )
    got = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_self_pair_isolated_doc(spark):
    """A doc appearing ONLY in a degenerate self-pair must self-label (the
    u != v edge filter once dropped it from the node set)."""
    from retailfeaturestore_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (7, 7)], "doc_a long, doc_b long"
    )
    got = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 7: 7}


def _path_graph(spark, n):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )


def test_connected_components_raises_when_rounds_run_out(spark, monkeypatch):
    """A path of 64 nodes needs several star rounds: a loop cut at one
    round must raise, not return the partial labels of an unconverged
    edge set."""
    monkeypatch.setattr(dedup, "CC_MAX_ITER", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(_path_graph(spark, 64)).collect()


@pytest.mark.slow  # driver verify-window fit (r14): see pyproject addopts
def test_connected_components_star_bounds_rounds_on_chain(spark):
    """Adversarial chain: a path graph of n nodes has diameter n-1, so
    min-label propagation would need O(n) rounds; large-star/small-star
    halves the diameter per round and must converge in O(log^2 n)."""
    from retailfeaturestore_spark.operators.dedup import connected_components

    n = 64
    star = connected_components(_path_graph(spark, n))
    labels = {r.id: r.cluster_id for r in star.collect()}
    assert labels == {i: 0 for i in range(n)}
    assert star._cc_rounds <= 10  # ~log2(64)=6 + slack; propagation needs 63


def _union_find_labels(edges):
    """Minimum id of each node's component, by union-find over the edge
    list."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.mark.slow  # driver verify-window fit (r14): see pyproject addopts
def test_connected_components_equal_union_find_on_random_graphs(spark):
    """Property: the clusters equal a pure-Python union-find's on arbitrary
    graphs (random edges over a small id space exercise merged components,
    self-contained islands, and re-linking across rounds)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from retailfeaturestore_spark.operators.dedup import connected_components

    edge = st.tuples(
        st.integers(min_value=0, max_value=14),
        st.integers(min_value=0, max_value=14),
    ).filter(lambda e: e[0] != e[1])

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.lists(edge, min_size=1, max_size=20))
    def prop(edges):
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
        assert got == _union_find_labels(edges)

    prop()


@requires_testdata
def test_kmeans_cells_deterministic_and_partitioned(spark):
    """KMeans assignment: every vector gets exactly one cell; the result is
    identical under a different input partitioning (integer-exact distances
    and floor-div centroids leave nothing order-dependent)."""
    from retailfeaturestore_spark.io import load_table
    from retailfeaturestore_spark.operators.similarity import kmeans_cells

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = kmeans_cells(emb, k=4)
    assert a.count() == emb.count()
    assert a.groupBy("id").count().where("count > 1").count() == 0
    b = kmeans_cells(emb.repartition(7), k=4)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # the quantizer actually partitions the space: more than one cell in use
    assert a.select("cell").distinct().count() > 1


@requires_testdata
def test_ivf_literal_and_join_paths_agree(spark, monkeypatch):
    """r13 (VERDICT r12 #5): small query sets take the literal-query path
    (query vectors/cells/norms as plan literals, one pure-map scoring job);
    large sets keep the broadcast join.  Both must produce bit-identical
    rankings — the driver-side integer replay (_assign_py, python norms)
    must match the SQL argmin exactly."""
    from retailfeaturestore_spark.io import load_table
    from retailfeaturestore_spark.operators import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qids = list(range(7))
    lit = sorted(
        map(
            tuple,
            sim.ivf_topk_cells(emb, query_ids=qids, n_cells=4).collect(),
        )
    )
    monkeypatch.setattr(sim, "_LITERAL_QUERY_MAX", 0)  # force the join path
    join = sorted(
        map(
            tuple,
            sim.ivf_topk_cells(emb, query_ids=qids, n_cells=4).collect(),
        )
    )
    assert lit == join
    assert len(lit) == len(qids) * sim.IVF_TOP_K


@requires_testdata
def test_cosine_topk_quantized_matches_broadcast_path(spark):
    """The literal-query exact leg must rank identically to cosine_topk
    (same int64 dots/norms, same IEEE division, same tiebreak)."""
    from pyspark.sql import functions as F

    from retailfeaturestore_spark.io import load_table
    from retailfeaturestore_spark.operators.similarity import (
        IVF_TOP_K,
        cosine_topk,
        cosine_topk_quantized,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = sorted(
        map(
            tuple,
            cosine_topk(emb, emb.where(F.col("vec_id") < 5), k=IVF_TOP_K).collect(),
        )
    )
    b = sorted(map(tuple, cosine_topk_quantized(emb, range(5)).collect()))
    assert a == b


def test_minhash_sql_front_survives_short_docs(spark):
    """Docs with fewer than 3 words must contribute zero shingles, not
    abort the job (sequence(1, 0) yields DESCENDING [1, 0] and slice(ws,
    0, 3) throws — the guard filters them before the gram transform)."""
    from retailfeaturestore_spark.queries import _minhash_post_sql

    spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, "a b c d")], "doc_id long, text string"
    ).createOrReplaceTempView("t_short_docs")
    rows = spark.sql(_minhash_post_sql("t_short_docs", 2)).collect()
    assert {r.id for r in rows} == {3}
    assert {r.sh for r in rows} == {"a b c", "b c d"}


@requires_testdata
def test_pq_adc_deterministic_and_ranked(spark):
    """PQ/ADC: 5 neighbors per query, ranks dense 1..5, distance
    non-decreasing with rank, and the whole pipeline (training included)
    is identical under a different input partitioning — nothing in the
    integer Lloyd/LUT path may depend on row order.  Each call gets its
    own cache scope, so each pays a fresh training."""
    from retailfeaturestore_spark.io import load_table
    from retailfeaturestore_spark.operators.similarity import pq_topk_adc_resident
    from retailfeaturestore_spark.queries import invalidate_caches

    sf = TESTDATA_SF
    emb = load_table(spark, sf, "embeddings")
    a = pq_topk_adc_resident(
        emb, query_ids=list(range(5)), cache_scope=sf + "#det-a"
    )
    rows = a.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == set(range(5))
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3, 4, 5]
        dists = [r.adc_dist for r in rs]
        assert dists == sorted(dists)
        assert all(r.n_id != q for r in rs)
    b = pq_topk_adc_resident(
        emb.repartition(7), query_ids=list(range(5)),
        cache_scope=sf + "#det-b",
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    for scope in ("#det-a", "#det-b"):
        invalidate_caches(spark, sf_dir=sf + scope)


@requires_testdata
def test_pq_adc_approximates_exact_neighbors(spark):
    """Recall sanity: the PQ top-5 must overlap the exact brute-force top-5
    well above chance.  The synthetic gaussian embeddings are a worst case
    for ANY quantizer (pairwise distances concentrate, so the true top-5 is
    barely separated from the rest) — measured overlap here is ~0.18 vs a
    ~0.01 random baseline (5/499 per pick); the assert guards the order of
    magnitude, not a production recall target."""
    from retailfeaturestore_spark.io import load_table
    from retailfeaturestore_spark.operators.similarity import (
        cosine_topk,
        pq_topk_adc_resident,
    )
    from retailfeaturestore_spark.queries import invalidate_caches

    sf = TESTDATA_SF
    emb = load_table(spark, sf, "embeddings")
    qids = list(range(10))
    exact = cosine_topk(emb, emb.where(emb.vec_id < 10), k=5)
    approx = pq_topk_adc_resident(
        emb, query_ids=qids, cache_scope=sf + "#recall"
    )
    e = {(r.q_id, r.n_id) for r in exact.collect()}
    a = {(r.q_id, r.n_id) for r in approx.collect()}
    invalidate_caches(spark, sf_dir=sf + "#recall")
    overlap = len(e & a) / len(e)
    assert overlap >= 0.1, overlap


@requires_testdata
def test_mmr_matches_local_greedy(spark):
    """Differential: the distributed MMR (JVM candidates + applyInPandas
    selection) must equal a from-scratch local greedy over the same
    fixed-point cosines."""
    import math

    from retailfeaturestore_spark.io import load_table
    from retailfeaturestore_spark.operators.similarity import mmr_diverse_topk

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    got = {
        (r.q_id, r.pick): (r.n_id, r.relevance, r.mmr_score)
        for r in mmr_diverse_topk(
            emb, emb.where(emb.vec_id < 3), k_select=4, k_candidates=10
        ).collect()
    }

    vecs = {
        r.vec_id: [math.floor(float(x) * 33554432.0) for x in r.embedding]
        for r in emb.collect()
    }
    norms = {i: math.sqrt(float(sum(v * v for v in vec))) for i, vec in vecs.items()}

    def cos(a, b):
        return float(sum(x * y for x, y in zip(vecs[a], vecs[b]))) / (
            norms[a] * norms[b]
        )

    for q in range(3):
        rel = sorted(
            ((cos(q, n), n) for n in vecs if n != q),
            key=lambda t: (-t[0], t[1]),
        )[:10]
        cands = [(n, r) for r, n in rel]
        selected = []
        for pick in range(1, 5):
            best = None
            for n, r in cands:
                if n in (s[0] for s in selected):
                    continue
                maxsim = max((cos(n, s[0]) for s in selected), default=0.0)
                score = 0.7 * r - 0.3 * maxsim
                if best is None or (score, -n) > (best[2], -best[0]):
                    best = (n, r, score)
            selected.append(best)
            assert got[(q, pick)] == best, (q, pick, got[(q, pick)], best)


# ---------------------------------------------------------------------------
# Containment dedup (operators/dedup.py:containment_pairs)
# ---------------------------------------------------------------------------


def test_containment_catches_doc_pasted_inside_larger_doc(spark):
    """The Jaccard-blind direction: a small doc embedded verbatim in a much
    larger one has low Jaccard but containment 1.0 — only the directed
    (small -> large) row may appear."""
    small = "alpha bravo charlie delta echo foxtrot golf hotel"
    filler = " ".join(f"word{i} next{i} more{i}" for i in range(30))
    large = filler + " " + small + " trailing tokens here"
    d = docs(spark, [(1, small), (2, large), (3, "unrelated totally different text body")])
    out = {(r.doc_inner, r.doc_outer): r for r in containment_pairs(d).collect()}
    assert (1, 2) in out
    r = out[(1, 2)]
    assert r.containment == 1.0 and r.overlap == r.n_inner
    assert (2, 1) not in out  # large doc is NOT contained in the small one
    assert all(3 not in k for k in out)


def test_containment_ignores_boilerplate_shingles_above_max_df(spark):
    """A shingle shared by more than CONTAINMENT_MAX_DF (20) docs
    (boilerplate header) must not create pairs: 30 docs sharing only a
    header produce zero rows."""
    header = "site nav header common to every page"
    rows = [(i, f"{header} unique{i} body{i} content{i} tail{i}") for i in range(30)]
    out = containment_pairs(docs(spark, rows)).collect()
    assert out == []


def test_containment_symmetric_twins_emit_both_directions(spark):
    d = docs(spark, [(1, "one two three four five six"), (2, "one two three four five six")])
    got = {(r.doc_inner, r.doc_outer): r.containment for r in containment_pairs(d).collect()}
    assert got == {(1, 2): 1.0, (2, 1): 1.0}


def test_containment_threshold_is_integer_exact(spark):
    """4 of 5 rare shingles present = exactly 0.8 — the >= boundary must
    admit it (integer compare, no float epsilon)."""
    inner = "a b c d e f g"  # 5 shingles: abc bcd cde def efg
    outer = "a b c d e f zzz qq ww ee rr tt"  # shares abc bcd cde def = 4
    d = docs(spark, [(1, inner), (2, outer)])
    out = {(r.doc_inner, r.doc_outer): r for r in containment_pairs(d).collect()}
    assert (1, 2) in out and abs(out[(1, 2)].containment - 0.8) < 1e-15
    assert (2, 1) not in out  # 4/10 on the outer side is below threshold


@requires_testdata
def test_pq_index_append_encodes_with_frozen_codebooks(spark, tmp_path):
    """Incremental index maintenance: append encodes ONLY the new batch
    against the frozen codebooks (python-replay-exact), and old + new rows
    serve immediately.  The append's guards are pinned in test_pq_mtable."""
    import math

    from pyspark.sql import functions as F

    from retailfeaturestore_spark.io import load_table
    from retailfeaturestore_spark.operators.similarity import (
        _pq_meta_mtable,
        append_pq_index_mtable,
        build_pq_index_mtable,
        search_pq_index_mtable,
    )
    from retailfeaturestore_spark.sources.mtable import MTable

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n_total = emb.count()
    base = emb.where(F.col("vec_id") < 400)
    extra = emb.where(F.col("vec_id") >= 400)
    t = MTable(spark, str(tmp_path / "pq_index"))
    build_pq_index_mtable(base, t, m=4, k_codes=8)
    v = append_pq_index_mtable(t, extra)

    meta = _pq_meta_mtable(t, v)
    cents = [[(int(cid), [int(x) for x in vec]) for cid, vec in sub]
             for sub in meta["codebooks"]]
    codes = t.read(version=v)
    assert codes.count() == n_total
    scale = float(meta["fixed_point_scale"])
    m, w = int(meta["m"]), int(meta["d_sub"])

    def py_encode(vec):
        q = [math.floor(float(x) * scale) for x in vec]
        out = []
        for s in range(m):
            sub = q[s * w : (s + 1) * w]
            best = min(
                (sum((a - b) * (a - b) for a, b in zip(sub, cv)), cid)
                for cid, cv in cents[s]
            )
            out.append(best[1])
        return out

    appended_vecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in extra.collect()
    }
    got = {
        int(r["id"]): [int(c) for c in r["__codes"]]
        for r in codes.where(F.col("id") >= 400).collect()
    }
    assert set(got) == set(appended_vecs)
    for vid, vec in appended_vecs.items():
        assert got[vid] == py_encode(vec), vid

    # serving sees the appended rows: the best ADC distance for an appended
    # query vector must equal the python minimum over ALL codes (old + new)
    qid, qvec = 450, appended_vecs[450]
    qq = [math.floor(float(x) * scale) for x in qvec]
    all_codes = {int(r["id"]): [int(c) for c in r["__codes"]] for r in codes.collect()}
    luts = [
        {cid: sum((a - b) * (a - b) for a, b in zip(qq[s * w : (s + 1) * w], cv))
         for cid, cv in cents[s]}
        for s in range(m)
    ]
    py_best = min(
        float(sum(luts[s][cs[s]] for s in range(m))) for cs in all_codes.values()
    )
    served = search_pq_index_mtable(t, [(qid, qvec)]).collect()
    assert min(r.adc_dist for r in served) == py_best


def test_containment_matches_bruteforce_on_random_corpora(spark, monkeypatch):
    """Property: containment_pairs == a literal python replay (rare-shingle
    subspace, integer threshold) on random small-vocab corpora — small
    vocab forces shared shingles, df-cap hits, and threshold boundaries."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    monkeypatch.setattr(dedup, "CONTAINMENT_MAX_DF", 3)
    monkeypatch.setattr(dedup, "CONTAINMENT_THR_NUM", 1)
    monkeypatch.setattr(dedup, "CONTAINMENT_THR_DEN", 2)
    word = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
    doc = st.lists(word, min_size=3, max_size=9).map(" ".join)

    def doc_sh(t):
        ws = t.split()
        return {" ".join(ws[j : j + 3]) for j in range(len(ws) - 2)}

    def brute(texts, max_df, thr_num, thr_den):
        sh = {i: doc_sh(t) for i, t in texts.items()}
        sh = {i: s for i, s in sh.items() if s}
        dfreq = {}
        for s in sh.values():
            for g in s:
                dfreq[g] = dfreq.get(g, 0) + 1
        rare = {i: {g for g in s if dfreq[g] <= max_df} for i, s in sh.items()}
        out = {}
        for a, sa in rare.items():
            if not sa:
                continue
            for b, sb in rare.items():
                if a == b:
                    continue
                ov = len(sa & sb)
                if ov and ov * thr_den >= len(sa) * thr_num:
                    out[(a, b)] = (ov, len(sa), ov / len(sa))
        return out

    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.lists(doc, min_size=2, max_size=7))
    def prop(texts):
        corpus = {i: t for i, t in enumerate(texts)}
        d = docs(spark, list(corpus.items()))
        got = {
            (r.doc_inner, r.doc_outer): (r.overlap, r.n_inner, r.containment)
            for r in containment_pairs(d).collect()
        }
        assert got == brute(corpus, 3, 1, 2)

    prop()


def test_random_projection_matches_python_replay_and_preserves_distance(spark, monkeypatch):
    import hashlib
    import math

    vecs = [
        (0, [1.0, -0.5, 0.25, 0.125]),
        (1, [0.0, 1.0, -1.0, 0.5]),
        (2, [1.0, -0.5, 0.25, 0.125]),  # duplicate of 0
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    from retailfeaturestore_spark.operators.similarity import random_projection

    monkeypatch.setattr(similarity, "RP_OUT_DIMS", 3)
    monkeypatch.setattr(similarity, "RP_SEED", "t")
    out = random_projection(df)
    got = {(r.id, r.j): r.value_scaled for r in out.collect()}

    scale = 2**25
    def sign(i, j):
        return 1 if int(hashlib.md5(f"t#{i}#{j}".encode()).hexdigest()[0], 16) % 2 == 0 else -1

    for vid, v in vecs:
        q = [math.floor(float(x) * scale) for x in v]
        for j in range(3):
            want = sum(qi * sign(i, j) for i, qi in enumerate(q))
            assert got[(vid, j)] == want, (vid, j)
    # identical inputs -> identical projections (determinism, no RNG state)
    assert all(got[(0, j)] == got[(2, j)] for j in range(3))


def test_random_projection_is_map_only_plan(spark):
    """Map-only on any production layout; on the single-row-group testdata
    the footer-gated scan rescue (r13) may insert its explicit
    REPARTITION_BY_NUM width exchange — no DEMANDED shuffle is allowed."""
    from retailfeaturestore_spark.plans import formatted_plan
    from retailfeaturestore_spark.queries import REGISTRY

    df = REGISTRY["embedding_random_projection"].fn(spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
    assert "ENSURE_REQUIREMENTS" not in plan, plan[:1500]
    assert plan.count("Arguments: hashpartitioning") == plan.count(
        "REPARTITION_BY_NUM"
    ), plan[:1500]


def test_repeated_ngram_spans_fixture(spark):
    """Hand-built corpus: a 10-word boilerplate pasted into two otherwise
    unique docs must surface as one merged span of exactly 10 tokens in
    each; a doc with internal self-repetition is caught corpus-free; docs
    shorter than n and fully-unique docs report zero."""
    from retailfeaturestore_spark.operators.dedup import repeated_ngram_spans

    boiler = "the quick brown fox jumps over the lazy sleeping dog"
    u1 = " ".join(f"alpha{i}" for i in range(12))
    u2 = " ".join(f"beta{i}" for i in range(15))
    selfrep = " ".join(f"g{i}" for i in range(8)) + " xmid " + " ".join(
        f"g{i}" for i in range(8)
    )
    docs = spark.createDataFrame(
        [
            (1, f"{u1} {boiler}"),          # boiler at tail
            (2, f"{boiler} {u2}"),          # boiler at head
            (3, "short doc only"),           # < n tokens
            (4, " ".join(f"solo{i}" for i in range(30))),  # unique
            (5, selfrep),                    # 8-gram repeated WITHIN one doc
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repeated_ngram_spans(docs).collect()}
    assert len(out) == 5  # every doc reported, including span-free ones
    # boiler = 10 tokens -> 3 dup 8-gram positions each side, merged to ONE
    # span of exactly the 10 boilerplate tokens
    for d in (1, 2):
        assert out[d].n_dup_spans == 1, out[d]
        assert out[d].dup_tokens == 10, out[d]
    assert out[1].n_tokens == 22 and out[2].n_tokens == 25
    assert abs(out[1].dup_ratio - 10 / 22) < 1e-12
    assert out[3].n_dup_spans == 0 and out[3].dup_tokens == 0
    assert out[4].n_dup_spans == 0 and out[4].dup_tokens == 0
    # self-repetition: g0..g7 occurs at positions 1 and 10 of a 17-token
    # doc -> two disjoint 8-token spans
    assert out[5].n_dup_spans == 2 and out[5].dup_tokens == 16


def test_repeated_ngram_spans_merges_overlaps(spark):
    """Consecutive duplicate positions must merge into ONE maximal span:
    a 12-token passage shared by two docs yields 5 dup 8-gram positions
    (1..5) whose spans [1,8]..[5,12] overlap into a single [1,12]."""
    from retailfeaturestore_spark.operators.dedup import repeated_ngram_spans

    passage = " ".join(f"w{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, passage), (2, passage + " " + " ".join(f"t{i}" for i in range(5)))],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repeated_ngram_spans(docs).collect()}
    assert out[1].n_dup_spans == 1 and out[1].dup_tokens == 12
    assert out[2].n_dup_spans == 1 and out[2].dup_tokens == 12


def test_remove_repeated_spans_rewrites_and_agrees_with_audit(spark):
    """Removal output: clean_text drops exactly the merged spans; every doc
    survives (fully-duplicated doc keeps empty text); kept_tokens is
    consistent with the audit op (n_tokens - dup_tokens)."""
    from retailfeaturestore_spark.operators.dedup import (
        remove_repeated_ngram_spans,
        repeated_ngram_spans,
    )

    boiler = "the quick brown fox jumps over the lazy sleeping dog"
    u1 = " ".join(f"alpha{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, f"{u1} {boiler}"),
            (2, boiler),  # ENTIRE doc duplicated -> empty rewrite
            (3, "tiny one"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_repeated_ngram_spans(docs).collect()}
    assert len(out) == 3
    assert out[1].clean_text == u1 and out[1].kept_tokens == 12
    assert out[2].clean_text == "" and out[2].kept_tokens == 0
    assert out[3].clean_text == "tiny one" and out[3].kept_tokens == 2
    audit = {r.doc_id: r for r in repeated_ngram_spans(docs).collect()}
    for d in out:
        assert out[d].kept_tokens == audit[d].n_tokens - audit[d].dup_tokens


def _semdedup_python_replay(vecs: dict[int, list[float]], k: int, iters: int, tau: float):
    """Pure-python replay of semantic_dedup's deterministic contract:
    floor-quantized int64 vectors, integer Lloyd (k smallest ids seed,
    ties to smallest cell, floor-div centroid update), exact int dots,
    IEEE double cosine, keep-the-farthest dominance."""
    import math

    q = {i: [math.floor(x * 33554432.0) for x in v] for i, v in vecs.items()}
    dims = len(next(iter(q.values())))
    cents = {i: list(q[i]) for i in sorted(q) if i < k}

    def assign():
        out = {}
        for i, v in q.items():
            best = None
            for c in sorted(cents):
                d = sum((a - b) * (a - b) for a, b in zip(v, cents[c]))
                if best is None or d < best[0] or (d == best[0] and c < best[1]):
                    best = (d, c)
            out[i] = best
        return out

    for _ in range(iters):
        a = assign()
        sums: dict[int, list[int]] = {}
        cnt: dict[int, int] = {}
        for i, (_, c) in a.items():
            s = sums.setdefault(c, [0] * dims)
            for j, x in enumerate(q[i]):
                s[j] += x
            cnt[c] = cnt.get(c, 0) + 1
        cents = {
            c: [math.floor(s[j] / cnt[c]) for j in range(dims)]
            for c, s in sums.items()
        }
    final = assign()
    nn = {i: float(sum(x * x for x in v)) for i, v in q.items()}
    kept = {}
    for i, (di, ci) in final.items():
        dropped = False
        for j, (dj, cj) in final.items():
            if i == j or cj != ci:
                continue
            if not (dj > di or (dj == di and j < i)):
                continue
            dot = float(sum(a * b for a, b in zip(q[i], q[j])))
            if dot / (math.sqrt(nn[i]) * math.sqrt(nn[j])) >= tau:
                dropped = True
                break
        kept[i] = (ci, di, not dropped)
    return kept


def test_semantic_dedup_matches_python_replay(spark):
    """semantic_dedup == the pure-python replay of its deterministic
    contract on a random corpus with planted near-duplicate balls —
    cluster assignment, exact centroid distance, and the keep-the-
    farthest verdict all engine-exact."""
    import random

    from retailfeaturestore_spark.operators.similarity import semantic_dedup

    rng = random.Random(97)
    vecs: dict[int, list[float]] = {}
    for i in range(40):
        vecs[i] = [rng.uniform(-1, 1) for _ in range(8)]
    # planted balls: 3 jittered copies of vec 5 and 2 of vec 11
    for i, src in ((40, 5), (41, 5), (42, 5), (43, 11), (44, 11)):
        vecs[i] = [x + rng.uniform(-1e-3, 1e-3) for x in vecs[src]]
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    got = {
        r.id: (r.cell, r.centroid_dist, r.is_kept)
        for r in semantic_dedup(df, k=4, threshold=0.9).collect()
    }
    assert got == _semdedup_python_replay(vecs, k=4, iters=2, tau=0.9)
    # the planted balls actually deduplicated: at most one survivor each
    for ball in ((5, 40, 41, 42), (11, 43, 44)):
        assert sum(1 for i in ball if got[i][2]) == 1
    # never empties a cell: every cell keeps at least one member
    by_cell: dict[int, int] = {}
    for cell, _, k_ in got.values():
        by_cell[cell] = by_cell.get(cell, 0) + (1 if k_ else 0)
    assert all(n >= 1 for n in by_cell.values())


def test_semantic_dedup_partitioning_invariant(spark):
    """The verdict frame is identical under a different input partitioning
    (nothing order-dependent anywhere in the pipeline)."""
    import random

    from retailfeaturestore_spark.operators.similarity import semantic_dedup

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = semantic_dedup(df, k=3, threshold=0.5)
    b = semantic_dedup(df.repartition(7), k=3, threshold=0.5)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


@requires_testdata
def test_pq_resident_matches_honest_build_and_memoizes(spark):
    """The serving-semantics path (train once per dataset, score per
    request) must be bit-identical to an honest build (the first call of a
    fresh cache scope), reuse the memoized codebooks on repeat calls, serve
    NEW query sets off the resident index, and retrain after
    invalidate_caches."""
    from retailfeaturestore_spark.io import load_table
    from retailfeaturestore_spark.operators._cache import session_memo
    from retailfeaturestore_spark.operators.similarity import pq_topk_adc_resident
    from retailfeaturestore_spark.queries import invalidate_caches

    sf = "/root/testdata/sf0.001"
    scope = sf + "#resident-test"
    emb = load_table(spark, sf, "embeddings")

    def honest(query_ids, tag):
        fresh = f"{sf}#honest-{tag}"
        out = pq_topk_adc_resident(
            emb, query_ids=query_ids, cache_scope=fresh
        )
        rows = out.collect()
        invalidate_caches(spark, sf_dir=fresh)
        return spark.createDataFrame(rows, out.schema)

    honest5 = honest(list(range(5)), "5")
    r1 = pq_topk_adc_resident(
        emb, query_ids=list(range(5)), cache_scope=scope
    )
    assert honest5.exceptAll(r1).count() == 0 and r1.exceptAll(honest5).count() == 0
    memo = session_memo(spark)
    assert ("pq_resident_model", scope) in memo
    cents_obj = memo[("pq_resident_model", scope)]
    # repeat call serves from the SAME codebook object (no retrain)
    r2 = pq_topk_adc_resident(
        emb, query_ids=list(range(5)), cache_scope=scope
    )
    assert memo[("pq_resident_model", scope)] is cents_obj
    assert r1.exceptAll(r2).count() == 0 and r2.exceptAll(r1).count() == 0
    # a NEW query set is answered from the resident index, same codebooks
    honest37 = honest([3, 7], "37")
    r37 = pq_topk_adc_resident(
        emb, query_ids=[3, 7], cache_scope=scope
    )
    assert memo[("pq_resident_model", scope)] is cents_obj
    assert honest37.exceptAll(r37).count() == 0 and r37.exceptAll(honest37).count() == 0
    # table-rewrite protocol: eviction by scope drops memo + frames
    invalidate_caches(spark, sf_dir=scope)
    assert ("pq_resident_model", scope) not in memo

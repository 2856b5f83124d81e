"""PageRank operator semantics vs an independent python replay."""

from __future__ import annotations

from retailfeaturestore_spark.operators import graph
from retailfeaturestore_spark.operators.graph import copurchase_edges, pagerank_scaled, similar_by_neighbors, triangle_counts

SCALE = 1_000_000_000_000
BASE = 15 * SCALE // 100


def py_pagerank(edges: list[tuple[int, int]], n_iter: int) -> dict[int, int]:
    """Literal integer replay of the documented algorithm."""
    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    r = {v: SCALE for v in deg}
    for _ in range(n_iter):
        sums: dict[int, int] = {}
        for s, d in edges:
            sums[d] = sums.get(d, 0) + r[s] // deg[s]
        r = {v: BASE + (85 * sums.get(v, 0)) // 100 for v in deg}
    return r


def test_pagerank_path_graph_matches_python_replay(spark):
    # undirected path 1-2-3: middle node must out-rank the ends
    edges = [(1, 2), (2, 1), (2, 3), (3, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: (r.degree, r.pagerank_scaled) for r in pagerank_scaled(df).collect()}
    want = py_pagerank(edges, graph.PAGERANK_ITERATIONS)
    assert set(got) == set(want)
    for v, (deg, rank) in got.items():
        assert rank == want[v], v
    assert got[2][1] > got[1][1] and got[1][1] == got[3][1]
    assert got[2][0] == 2 and got[1][0] == 1


def test_pagerank_directed_source_node_keeps_base_rank(spark, monkeypatch):
    # 1 -> 2 -> 3, plus 3 -> 2 so vertex set = {1,2,3}; vertex 1 has no
    # in-edges and must survive every iteration at exactly the teleport base.
    edges = [(1, 2), (2, 3), (3, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    monkeypatch.setattr(graph, "PAGERANK_ITERATIONS", 4)
    got = {r.id: r.pagerank_scaled for r in pagerank_scaled(df).collect()}
    want = py_pagerank(edges, 4)
    assert got == want
    assert got[1] == BASE


def test_copurchase_edges_symmetric_no_self_loops(spark):
    li = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 20), (2, 20), (2, 30), (3, 40)],
        "l_orderkey long, l_partkey long",
    )
    got = {(r.src, r.dst) for r in copurchase_edges(li).collect()}
    assert got == {(10, 20), (20, 10), (20, 30), (30, 20)}


def test_pagerank_checkpoint_rounds_equal_unchckpointed(spark, monkeypatch):
    edges = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    monkeypatch.setattr(graph, "PAGERANK_ITERATIONS", 5)
    monkeypatch.setattr(graph, "PAGERANK_CHECKPOINT_EVERY", 2)
    a = {r.id: r.pagerank_scaled for r in pagerank_scaled(df).collect()}
    monkeypatch.setattr(graph, "PAGERANK_CHECKPOINT_EVERY", 99)
    b = {r.id: r.pagerank_scaled for r in pagerank_scaled(df).collect()}
    assert a == b == py_pagerank(edges, 5)


def test_personalized_pagerank_seed_teleport(spark, monkeypatch):
    """Seeded teleport: only seed vertices receive base mass; a triangle
    with one seed must rank the seed first, and the whole run must match a
    literal python replay with the per-vertex base."""
    edges = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "id long")
    monkeypatch.setattr(graph, "PAGERANK_ITERATIONS", 4)

    def py_ppr(edges, seed_set, n_iter):
        deg = {}
        for s, _ in edges:
            deg[s] = deg.get(s, 0) + 1
        r = {v: SCALE for v in deg}
        for _ in range(n_iter):
            sums = {}
            for s, d in edges:
                sums[d] = sums.get(d, 0) + r[s] // deg[s]
            r = {
                v: (BASE if v in seed_set else 0) + (85 * sums.get(v, 0)) // 100
                for v in deg
            }
        return r

    got = {
        r.id: r.pagerank_scaled
        for r in pagerank_scaled(df, seeds=seeds).collect()
    }
    want = py_ppr(edges, {1}, 4)
    assert got == want
    assert got[1] > got[2] == got[3]  # seed out-ranks the symmetric others
    # and differs from the global variant on the same graph
    glob = {
        r.id: r.pagerank_scaled for r in pagerank_scaled(df).collect()
    }
    assert glob[1] == glob[2] == glob[3] != got[1]


def test_triangle_counts_known_graph(spark):
    """K4 minus one edge: vertices 1,2 (the diagonal pair) sit in 2
    triangles each... construct: edges 1-2,1-3,1-4,2-3,2-4 (missing 3-4).
    Triangles: (1,2,3) and (1,2,4).  Per-vertex: 1->2, 2->2, 3->1, 4->1.
    Clustering: deg(1)=3 -> 2*2/6=0.667; deg(3)=2 -> 2*1/2=1.0."""
    und = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: (r.degree, r.n_triangles, r.clustering) for r in triangle_counts(df).collect()}
    assert got[1] == (3, 2, 2 * 2 / (3 * 2))
    assert got[2] == (3, 2, 2 * 2 / (3 * 2))
    assert got[3] == (2, 1, 1.0)
    assert got[4] == (2, 1, 1.0)


def test_triangle_counts_no_triangles_and_isolated_path(spark):
    und = [(1, 2), (2, 3), (3, 4)]  # path: zero triangles everywhere
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: (r.n_triangles, r.clustering) for r in triangle_counts(df).collect()}
    assert got == {1: (0, 0.0), 2: (0, 0.0), 3: (0, 0.0), 4: (0, 0.0)}


def test_triangle_counts_matches_bruteforce_on_random_graph(spark):
    import itertools
    import random

    rng = random.Random(7)
    nodes = list(range(12))
    und = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(30)})
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    adj = {n: set() for n in nodes}
    for a, b in und:
        adj[a].add(b); adj[b].add(a)
    want = {n: 0 for n in nodes}
    for a, b, c in itertools.combinations(nodes, 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            want[a] += 1; want[b] += 1; want[c] += 1
    got = {r.id: r.n_triangles for r in triangle_counts(df).collect()}
    # operator only reports vertices with >=1 edge
    assert got == {n: want[n] for n in nodes if adj[n]}


def test_similar_by_neighbors_jaccard_and_stopword_removal(spark, monkeypatch):
    """Square 1-2-3-4 (cycle): opposite corners share BOTH neighbors
    (jaccard 1.0), adjacent corners share none; a hub vertex connected to
    everything is dropped entirely at max_degree and influences nothing."""
    und = [(1, 2), (2, 3), (3, 4), (4, 1)]
    hub = [(9, v) for v in (1, 2, 3, 4)]
    edges = und + [(b, a) for a, b in und] + hub + [(v, 9) for _, v in hub]
    df = spark.createDataFrame(edges, "src long, dst long")
    monkeypatch.setattr(graph, "SIMILAR_MAX_DEGREE", 3)
    out = similar_by_neighbors(df).collect()
    got = {(r.part_id, r.similar_part): (r.common, r.jaccard, r.rank) for r in out}
    # hub 9 (degree 4 > 3) appears nowhere — as a vertex or a shared neighbor
    assert all(9 not in k for k in got)
    # opposite corners: N(1)={2,4}=N(3) -> jaccard 1.0, both directions
    assert got[(1, 3)] == (2, 1.0, 1) and got[(3, 1)] == (2, 1.0, 1)
    assert got[(2, 4)] == (2, 1.0, 1) and got[(4, 2)] == (2, 1.0, 1)
    # adjacent corners share no neighbors -> no pair row at all
    assert (1, 2) not in got and (2, 3) not in got

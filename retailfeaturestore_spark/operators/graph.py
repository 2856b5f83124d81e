"""Iterative graph analytics beyond connected components (dedup.py).

PageRank here serves the catalog/recommendation side of the pipeline
(part importance in the co-purchase graph) and demonstrates the second
classic iterative-shuffle workload shape: per round, contributions flow
along edges (one join keyed on src) and aggregate at their targets (one
exchange keyed on dst).  Not present in the reference (single-process
pandas over keyed retail rows, `/root/reference/jobs`); the algorithm is
the public Brin-Page formulation with the standard damping split.

Determinism contract (SURVEY.md §5.2): ranks are scaled 1e12 longs and
every step is integer algebra — per-edge contribution ``r div deg``
(exact floor division), damped update ``base + (85 * sum) div 100`` —
so a DuckDB oracle replays N unrolled iterations bit-for-bit.  Float
PageRank would hash-drift: the per-target sum order differs across
engines.  Long-overflow bound: ``85 * sum(contrib)`` requires the mass a
single node receives per round to stay under ~1e17 (i.e. < ~1e5
full-rank in-neighbors) — far above any real degree after the dedup-style
caps upstream, and checked cheaply by the caller if in doubt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._cache import register_persisted

__all__ = ["copurchase_edges", "pagerank_scaled", "triangle_counts", "similar_by_neighbors"]

_SCALE = 1_000_000_000_000  # 1e12 — shared with the oracle CTEs
_DAMPING_NUM, _DAMPING_DEN = 85, 100
# PageRank rounds, and the rounds between lineage truncations
PAGERANK_ITERATIONS = 3
PAGERANK_CHECKPOINT_EVERY = 8
# similar_by_neighbors: the stopword-vertex degree cap and the neighbors
# kept per vertex
SIMILAR_MAX_DEGREE = 100
SIMILAR_TOP_K = 5


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Directed co-purchase edge list: (src, dst) part pairs that appear in
    the same order, both directions, no self-loops, distinct.

    Scale shape: the self-join keys on l_orderkey (both sides hash-partition
    on the same key — one exchange per side, no broadcast of a fact table);
    per-order fan-out is quadratic in ORDER SIZE only (~items-per-order²,
    a small constant), never in corpus size."""
    # r13 re-plan (guide §2.3/§2.4): the r6-r12 shape was distinct(ok, part)
    # -> SMJ self-join on ok -> distinct(src, dst) — FOUR exchanges plus two
    # merge-join sorts, and the self-join shipped every (ok, part) row twice
    # (once per side).  Pair generation is per-ORDER local work, so one
    # collect_set aggregation (map-side partial combine dedupes (ok, part)
    # before the exchange) followed by a codegen'd double explode yields the
    # identical ordered-pair set with TWO exchanges and no join at all:
    #   groupBy(ok) collect_set(part)   [exchange 1 — the only (ok)-keyed pass]
    #   explode x explode, src != dst   [map-side, k^2 per order]
    #   distinct(src, dst)              [exchange 2]
    # Per-order state is the order's DISTINCT part set — bounded by basket
    # size exactly like the old self-join's per-key fan-out.  Measured at
    # sf0.1: the shared edge build drops ~40% (see OPTIMIZATION_r13.md).
    li = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part")
    )
    sets = li.groupBy("ok").agg(F.collect_set("part").alias("__ps"))
    return (
        sets.select(F.explode("__ps").alias("src"), F.col("__ps"))
        .select("src", F.explode("__ps").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def pagerank_scaled(
    edges: DataFrame,
    cache_scope: str | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Unweighted PageRank over a directed edge list, integer-exact, with
    damping ``_DAMPING_NUM / _DAMPING_DEN``, for ``PAGERANK_ITERATIONS``
    rounds.

    Vertices = nodes with out-edges (in an undirected/symmetrized graph —
    e.g. copurchase_edges — that is every connected node, so no dangling
    mass; for genuinely directed inputs, dangling nodes neither emit nor
    hold rank, the standard simplification when ranking only active nodes).

    ``seeds`` switches to PERSONALIZED PageRank (topic-sensitive teleport,
    Haveliwala WWW'02): the teleport base lands only on the seed vertices,
    so rank measures proximity to the seed set through the damped walk —
    the "related to this brand/segment" ranking a recommender wants.
    Unnormalized by |S| (rankings are scale-invariant; keeping the same
    per-seed base as the global variant keeps the integer algebra and the
    oracle unchanged except for the base column).  Ranks still initialize
    at full mass for every vertex — a fixed-iteration ranking, not a
    converged stationary distribution, same contract as the global variant.

    Per iteration: ONE join shuffle (ranks ⋈ edges on src; the edge table's
    partitioning is reused every round since edges are the static side) and
    ONE aggregation exchange (sum of contributions keyed on dst).  Rank
    state is 2 longs per vertex — never driver-side; with more rounds than
    a handful, every ``PAGERANK_CHECKPOINT_EVERY``-th round truncates the growing lineage via
    localCheckpoint exactly like connected_components' rounds
    (operators/dedup.py).  Returns (id, degree, pagerank_scaled, pagerank).
    """
    if cache_scope is not None and not edges.is_cached:
        # the edge list feeds TWO materializations below (deg, then the
        # deg-attach join's probe side); un-persisted it re-runs the whole
        # upstream build (the co-purchase set aggregation + pair explode)
        # once per consumer — measured ~2x the edge-build cost per query
        # (r13).  Same eviction contract as every other registered frame.
        # r14 (ADVICE r13 #2): callers that share one edge build across
        # operators persist it THEMSELVES under a single registry key
        # (queries._copurchase_edges_cached) — the is_cached guard keeps
        # this operator from re-persisting the same logical plan under a
        # second key ("Asked to cache already cached data" warnings, and a
        # replace-unpersist that could evict the shared entry from under a
        # sibling's live DataFrame).
        edges = edges.persist()
        register_persisted(edges, ("pagerank_raw_edges", cache_scope))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    # shuffle_hash on the deg side keeps BOTH join strategies scale-honest:
    # the cached edge layout comes out hash-partitioned by src (the join's
    # own exchange — no extra repartition), and neither side is ever
    # broadcast.  The broadcast AQE would otherwise pick at runtime is the
    # columnar-compressed edge CACHE — it looks threshold-small but
    # explodes ~10x when built into a driver-side HashedRelation (measured:
    # OOMs a default-heap local[32] driver at sf0.1, and shipping the
    # edge table to every executor is exactly backwards on a cluster).
    ed = edges.join(deg.hint("shuffle_hash"), "src").select("src", "dst", "deg")
    if cache_scope is not None:
        # persist ONLY when the caller provides an eviction scope — an
        # unregistered persist would strand blocks in executor storage with
        # no unpersist path (cf. containment_pairs); un-persisted callers
        # (tiny test graphs) just recompute the edge build per iteration.
        deg = deg.persist()
        ed = ed.persist()
        register_persisted(deg, ("pagerank_deg", cache_scope))
        register_persisted(ed, ("pagerank_edges", cache_scope))
    base = (_DAMPING_DEN - _DAMPING_NUM) * _SCALE // _DAMPING_DEN
    verts = deg.select(F.col("src").alias("id"))
    if seeds is None:
        vbase = verts.withColumn("b", F.lit(base).cast("long"))
    else:
        sd = seeds.select("id").distinct().withColumn(
            "__s", F.lit(1)
        )
        vbase = verts.join(sd.hint("shuffle_hash"), "id", "left").select(
            "id",
            F.when(F.col("__s").isNotNull(), F.lit(base))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("b"),
        )
    if cache_scope is not None and seeds is not None:
        # persist only the PERSONALIZED base: it embeds a real join (verts
        # ⋈ seed set) consumed once per iteration.  The global base is a
        # literal projection over the already-persisted deg — persisting
        # that added a cache entry and a populate pass for zero saved work
        # (r14, VERDICT r13 #1: cut the per-query persist count).
        vbase = vbase.persist()
        register_persisted(vbase, ("pagerank_vbase", cache_scope))
    ranks = verts.withColumn("r", F.lit(_SCALE).cast("long"))
    for i in range(PAGERANK_ITERATIONS):
        # ranks is the shuffle-hash BUILD side: per iteration only the
        # (id, r) table moves — |V|/nPartitions longs per task — while the
        # src-partitioned edge cache is scanned in place.  Never broadcast:
        # ranks is vertex-scale, and the probe side is the edge cache.
        contrib = ed.join(
            ranks.hint("shuffle_hash"), ed.src == ranks.id
        ).select(F.col("dst").alias("id"), F.expr("r div deg").alias("c"))
        sums = contrib.groupBy("id").agg(F.sum("c").cast("long").alias("s"))
        # left join against the static vertex set: a vertex with out-edges
        # but no in-edges (possible on genuinely directed inputs) keeps a
        # rank row (teleport base only) instead of silently leaving the
        # computation.  shuffle_hash like every other vertex-scale join
        # here — both sides grow with |V|, so neither may be broadcast.
        ranks = (
            vbase.join(sums.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                (
                    F.col("b")
                    + F.expr(f"({_DAMPING_NUM} * coalesce(s, 0L)) div {_DAMPING_DEN}")
                ).cast("long").alias("r"),
            )
        )
        if (i + 1) % PAGERANK_CHECKPOINT_EVERY == 0 and i + 1 < PAGERANK_ITERATIONS:
            ranks = ranks.localCheckpoint(eager=True)
    out = (
        ranks.join(deg.select(F.col("src").alias("id"), "deg").hint("shuffle_hash"), "id")
        .select(
            F.col("id"),
            F.col("deg").alias("degree"),
            F.col("r").alias("pagerank_scaled"),
            (F.col("r").cast("double") / F.lit(float(_SCALE))).alias("pagerank"),
        )
    )
    return out


def triangle_counts(
    edges: DataFrame, cache_scope: str | None = None
) -> DataFrame:
    """Exact per-vertex triangle counts + local clustering coefficient over
    a symmetrized edge list — the third classic graph workload (after CC
    and PageRank), and the one whose naive form actually explodes.

    The load-bearing trick is DEGREE ORIENTATION (Chiba-Nishizeki; the
    standard MapReduce formulation is Suri & Vassilvitskii WWW'11): each
    undirected edge points from its (degree, id)-smaller endpoint to the
    larger, making the orientation acyclic with out-degree O(sqrt(m)) for
    ANY degree distribution — so the wedge self-join generates
    sum_u C(out(u), 2) = O(m^1.5) rows worst case instead of
    sum_u C(deg(u), 2), which a whale vertex (a part in every order) turns
    quadratic.  Wedge pairs are ordered by the SAME (degree, id) key, so
    the closing edge is guaranteed oriented b -> c and the final join is a
    single equi-join (an OR-of-directions condition would degrade to a
    nested loop — measured unusable in the oracle engine).

    Plan: orient once (two degree joins), persist the oriented table (it
    feeds the wedge join twice and the closing join once — pass
    ``cache_scope`` exactly like pagerank), wedge join co-partitioned on
    u, closing equi-join on (u, v); per-vertex rollup is a union of three
    id projections.  Every join is edge-scale — shuffle_hash throughout,
    never broadcast (the pagerank AQE lesson).  Returns
    ``(id, degree, n_triangles, clustering)`` for every vertex; the
    coefficient is ``2T / (deg * (deg-1))`` — one exact-int IEEE division,
    0.0 below degree 2.
    """
    if cache_scope is not None and not edges.is_cached:
        # deg and the orientation join both materialize the edge list; one
        # persisted build instead of two (r13, same contract as pagerank).
        # is_cached guard: see pagerank_scaled (shared-edge-build callers).
        edges = edges.persist()
        register_persisted(edges, ("triangles_raw_edges", cache_scope))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    und = edges.where(F.col("src") < F.col("dst"))
    withd = (
        und.join(
            deg.select(F.col("src"), F.col("deg").alias("__ds")).hint("shuffle_hash"),
            "src",
        )
        .join(
            deg.select(
                F.col("src").alias("dst"), F.col("deg").alias("__dd")
            ).hint("shuffle_hash"),
            "dst",
        )
    )
    smaller_first = F.struct(F.col("__ds"), F.col("src")) < F.struct(
        F.col("__dd"), F.col("dst")
    )
    oe = withd.select(
        F.when(smaller_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(smaller_first, F.col("dst")).otherwise(F.col("src")).alias("v"),
        F.when(smaller_first, F.col("__dd")).otherwise(F.col("__ds")).alias("dv"),
    )
    if cache_scope is not None:
        # deg too, not just oe: the final per-vertex rollup joins deg, and
        # an un-persisted deg re-derives the ENTIRE upstream edge build
        # (the co-purchase self-join) for that one small join.
        deg = deg.persist()
        oe = oe.persist()
        register_persisted(deg, ("triangles_deg", cache_scope))
        register_persisted(oe, ("triangles_oriented", cache_scope))
    # r14 NOTE (measured rejection, guide §1): rebuilding this wedge join
    # as collect_set((dv, v)) + ordered slice-explode (the move that DID
    # win in similar_by_neighbors and the r13 edge build) measured a wash
    # here — interleaved A/B new 7.04/6.34/5.46 vs old 6.77/5.68/5.94 s at
    # 32 cores (plans/r14/triangles_wedge_ab.txt).  Both sides of this
    # self-join read the SAME persisted orientation (one exchange,
    # ReusedExchange on the probe), and the join + ordering filter + word-
    # table probe fuse into one whole-stage-codegen span that the
    # ObjectHashAggregate variant breaks — the halved candidate stream
    # paid for itself in lost codegen.  Kept the join.
    e1 = oe.select(F.col("u"), F.col("v").alias("b"), F.col("dv").alias("db"))
    e2 = oe.select(F.col("u"), F.col("v").alias("c"), F.col("dv").alias("dc"))
    wedges = e1.join(e2.hint("shuffle_hash"), "u").where(
        F.struct(F.col("db"), F.col("b")) < F.struct(F.col("dc"), F.col("c"))
    )
    closing = oe.select(F.col("u").alias("b"), F.col("v").alias("c"))
    # r13 Bloom-style pre-filter (guide §3.2): the wedge stream is
    # O(m^1.5) — 41M rows at sf0.1 against 1.2M closing edges — and the
    # closing equi-join used to shuffle ALL of it.  Most wedges never
    # close, so a membership filter over the closing-edge keys drops them
    # MAP-SIDE in the wedge-join stage, before the exchange: shuffle rows
    # fall from every-wedge to (triangles + hash collisions).  Spark's
    # bloom_filter_agg/might_contain are optimizer-internal (not in the
    # SQL registry), so the filter is hand-rolled as a 64-bit WORD TABLE:
    # each closing key sets one bit (xxhash64 into a 32·|E|-bit domain,
    # ~3% collision rate), words are bit_or-aggregated (map-side
    # combinable, |domain|/64 rows), and the probe is a BroadcastHashJoin
    # on the word index + one shiftright/bit-test — pure long arithmetic,
    # no strings, no per-row binary slicing.  The broadcast is the word
    # table (|E|/2 rows, 8·|E| bytes, capped at 2^27 bits = 32 MiB /
    # 2M rows), never the edge table; past the cap the collision rate
    # degrades gracefully (more shuffle, never wrong) — a cluster
    # deployment raises SPARK_GRAFT env / the domain cap with its executor
    # memory.  No false negatives (probes hash identically), collisions
    # are deterministic (fixed xxhash64 seed — retries see the same
    # rows), and the exact equi-join still decides membership, so the
    # result is bit-identical.  |E| comes off the persisted orientation —
    # one control-plane scalar job.  Gated on cache_scope (ADVICE r13 #1):
    # with no persisted orientation the sizing count would execute the
    # entire edge+orientation pipeline once for the scalar and AGAIN at
    # execution (double full compute), and it made bare DataFrame
    # construction (plan capture, unit tests) trigger real Spark jobs.
    # Un-scoped callers skip the pre-filter; the exact closing join alone
    # still decides membership — the filter is a shuffle-bytes
    # optimization, never a semantics change.
    n_closing = oe.count() if cache_scope is not None else 0
    if n_closing > 0:
        domain = min(max(32 * n_closing, 1 << 12), 1 << 27)
        pos = F.pmod(F.xxhash64(F.col("b"), F.col("c")), F.lit(domain))
        words = (
            closing.select(pos.alias("__p"))
            .select(
                F.expr("CAST(__p DIV 64 AS BIGINT)").alias("__w"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(__p % 64 AS INT))"
                ).alias("__m"),
            )
            .groupBy("__w")
            .agg(F.bit_or("__m").alias("__bits"))
        )
        wedges = (
            wedges.withColumn("__p", pos)
            .withColumn("__w", F.expr("CAST(__p DIV 64 AS BIGINT)"))
            .join(F.broadcast(words), "__w")
            .where(
                F.expr(
                    "(shiftright(__bits, CAST(__p % 64 AS INT)) & CAST(1 AS BIGINT)) = 1"
                )
            )
            .drop("__p", "__w", "__bits")
        )
    tri = wedges.join(closing.hint("shuffle_hash"), ["b", "c"]).select("u", "b", "c")
    # one explode instead of a 3-way union of tri projections: the union
    # replicated the whole wedge pipeline three times in the plan (exchange
    # reuse mostly papered over it, but AQE replanning re-ran stages under
    # the filter subtree); explode counts every role in ONE pass (r13)
    pern = (
        tri.select(F.explode(F.array("u", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return (
        deg.select(F.col("src").alias("id"), F.col("deg").alias("degree"))
        .join(pern.hint("shuffle_hash"), "id", "left")
        .select(
            "id",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                (F.lit(2) * F.coalesce("n_triangles", F.lit(0))).cast("double")
                / (F.col("degree") * (F.col("degree") - F.lit(1))).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


def similar_by_neighbors(edges: DataFrame, cache_scope: str | None = None) -> DataFrame:
    """Item-item collaborative filtering: per-vertex top-``SIMILAR_TOP_K``
    neighbors by
    JACCARD over co-purchase neighborhoods — the "customers who bought
    this also gravitate to" primitive, per-item ranked (distinct from the
    global pair ranking brand_basket_affinity produces).

    The skew valve is STOPWORD-VERTEX REMOVAL: vertices with degree >
    ``SIMILAR_MAX_DEGREE`` are dropped from the analysis graph entirely (a part in
    every basket correlates with everything and carries no signal — the
    same reasoning as dedup's max_df posting caps), which bounds the
    common-neighbor join at sum-over-kept C(deg, 2) with deg <= cap.  All
    quantities (degrees, intersections, unions) are computed over the SAME
    capped graph, so the Jaccard is exact and self-consistent — not a
    capped numerator over an uncapped denominator.

    Scale shape: two semi-joins apply the cap; common-neighbor pairs are
    generated by collect_set + ordered slice-explode over each customer's
    capped neighborhood (exactly C(d, 2) wedges per center, d <= SIMILAR_MAX_DEGREE
    — no self-join; r14, see the inline note); the degree attach joins are
    vertex-scale — shuffle_hash, never broadcast (the pagerank AQE lesson).
    Jaccard = c / (da + db - c), one exact long/long IEEE division; ties
    rank by neighbor id.
    """
    if cache_scope is not None and not edges.is_cached:
        # the uncapped degree pass and the two semi-join attaches all
        # consume the edge list; one persisted build instead of two (r13).
        # is_cached guard: see pagerank_scaled (shared-edge-build callers).
        edges = edges.persist()
        register_persisted(edges, ("simneigh_raw_edges", cache_scope))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("d"))
    keep = deg.where(F.col("d") <= SIMILAR_MAX_DEGREE).select("src")
    ec = (
        edges.join(keep.hint("shuffle_hash"), "src", "left_semi")
        .join(
            keep.select(F.col("src").alias("dst")).hint("shuffle_hash"),
            "dst",
            "left_semi",
        )
    )
    if cache_scope is not None:
        ec = ec.persist()
        register_persisted(ec, ("simneigh_edges", cache_scope))
    dc = ec.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("d"))
    # r14 wedge generation (guide §2.3/§2.4, the same move as the r13 edge
    # build): the common-neighbor pass used to SELF-JOIN ec on the shared
    # customer u (d^2 candidate rows per wedge center, then pa < pb drops
    # half) — one exchange + a hash join whose output is re-aggregated
    # anyway.  Collect each center's capped neighborhood once
    # (collect_set, <= SIMILAR_MAX_DEGREE elements by construction — the cap IS
    # the memory valve) and explode exactly the C(d, 2) ordered pairs via
    # slice(sorted, i+2, ...): half the generated rows, the join and its
    # probe-side exchange gone.  array_sort gives ascending part ids, so
    # pairs come out pa < pb — identical to the join's predicate.
    ns = ec.groupBy("src").agg(F.array_sort(F.collect_set("dst")).alias("__ns"))
    common = (
        ns.select(F.posexplode("__ns").alias("__i", "pa"), F.col("__ns"))
        .select(
            "pa",
            F.explode(
                F.slice(F.col("__ns"), F.col("__i") + F.lit(2), F.size("__ns"))
            ).alias("pb"),
        )
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    sym = common.unionByName(
        common.select(
            F.col("pb").alias("pa"), F.col("pa").alias("pb"), F.col("c")
        )
    )
    j = (
        sym.join(dc.select(F.col("src").alias("pa"), F.col("d").alias("da")).hint("shuffle_hash"), "pa")
        .join(dc.select(F.col("src").alias("pb"), F.col("d").alias("db")).hint("shuffle_hash"), "pb")
        .withColumn(
            "jaccard",
            F.col("c").cast("double")
            / (F.col("da") + F.col("db") - F.col("c")).cast("double"),
        )
    )
    w = Window.partitionBy("pa").orderBy(F.col("jaccard").desc(), F.col("pb"))
    return (
        j.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= SIMILAR_TOP_K)
        .select(
            F.col("pa").alias("part_id"),
            F.col("pb").alias("similar_part"),
            F.col("c").alias("common"),
            F.col("da").alias("deg_a"),
            F.col("db").alias("deg_b"),
            "jaccard",
            "rank",
        )
    )

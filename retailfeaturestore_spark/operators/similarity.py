"""Similarity search over embedding columns (array<float>).

Extension surface (BASELINE.json north star): approximate-nearest-neighbor
over embeddings with a brute-force exact baseline and bucketed scale paths.

Determinism design: cosine is computed in FIXED POINT — each float component
is quantized to an integer ``floor(x * 2^25)`` (power-of-two scaling is exact
in IEEE arithmetic and floor has no rounding-tie cases, so every engine
produces the same integer), and dot products / norms are int64 sums (exact,
order-independent; |x| < 2 and 64 dims keep the sum < 2^58).  The final
``dot / (sqrt(na) * sqrt(nb))`` is three correctly-rounded IEEE ops over
identical integers -> bit-identical doubles across engines and shuffle
orders.  The 2^-25 (~3e-8) quantization is far below any meaningful
similarity difference; decimal-typed accumulation was rejected because
double->decimal casts at high scale are not identically rounded across
engines.

Scale paths:
- ``cosine_topk``: broadcast the (small) query set against the corpus — one
  scan, no shuffle of the corpus, per-partition top-k then global k.
- ``ivf_topk_label``: coarse-bucket restriction (here the ``label`` column as
  the IVF cell id; with real data, a KMeans assignment) — search only the
  matching cell.
- ``sign_lsh_neardup``: random-hyperplane-style LSH using coordinate-sign
  bands; candidates share an 8-bit sign band, then exact cosine filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._cache import get_or_register, register_persisted, session_memo

__all__ = [
    "dot_fixed",
    "cosine_topk",
    "cosine_topk_quantized",
    "quantized_vec_rows",
    "ivf_topk_label",
    "kmeans_cells",
    "ivf_topk_cells",
    "pq_topk_adc_resident",
    "build_pq_index_mtable",
    "append_pq_index_mtable",
    "search_pq_index_mtable",
    "mmr_diverse_topk",
    "sign_lsh_neardup",
    "semantic_dedup",
]

FIXED_POINT_SCALE = 2**25


def _quant(x: Column) -> Column:
    return F.floor(x.cast("double") * F.lit(float(FIXED_POINT_SCALE)))


def dot_fixed(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two quantized float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _quant(x) * _quant(y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def norm2_fixed(a: Column) -> Column:
    return dot_fixed(a, a)


def _with_norm(df: DataFrame, vec_col: str) -> DataFrame:
    return df.withColumn("__nn", norm2_fixed(F.col(vec_col)).cast("double"))


# Query sets up to this size ship as plan literals (ids + quantized vectors
# + norms): the scoring pass becomes a pure map over the quantized corpus —
# no broadcast-exchange materialization job, no join.  Same boundary class
# as the PQ ADC LUTs (|Q| * dims int64 literals, driver-side by design).
_LITERAL_QUERY_MAX = 128


def _quantized_corpus(
    vectors: DataFrame, vec_col: str, id_col: str, cache_scope: str | None
) -> DataFrame:
    """The shared ``(id, __q int64-array)`` quantized corpus, persisted and
    memoized per (columns, dataset scope) — KMeans training, IVF search,
    PQ train/encode, and the recall-eval exact leg all read THIS frame, so
    one session pays the parquet scan + quantize exactly once per dataset
    (r13, VERDICT r12 next-round #5: the train/encode/serve boundary).
    Unscoped callers (cache_scope=None: unit tests, ad-hoc frames) get a
    fresh un-memoized build — there is no dataset key to invalidate by."""
    from pyspark import StorageLevel

    def build() -> DataFrame:
        return vectors.select(
            F.col(id_col).alias("id"),
            F.transform(F.col(vec_col), lambda x: _quant(x)).alias("__q"),
        ).persist(StorageLevel.MEMORY_AND_DISK)

    if cache_scope is None:
        q = build()
        register_persisted(q, ("quant_corpus_unscoped", None))
        return q
    spark = vectors.sparkSession
    key = (f"quant_corpus:{id_col}:{vec_col}", cache_scope)
    reg = getattr(spark, "_rfs_persisted", None)
    if reg is None or not isinstance(reg, dict):
        spark._rfs_persisted = reg = {}
    cached = reg.get(key)
    if cached is None:
        reg[key] = cached = build()
    return cached


def quantized_vec_rows(
    vectors: DataFrame,
    ids,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_scope: str | None = None,
) -> list[tuple[int, list[int]]]:
    """Driver-side quantized vectors for a bounded literal id set, memoized
    per dataset scope (``session_memo`` — evicts with the persisted frames
    on ``invalidate_caches``).  One collect job for the ids not already in
    the memo; |ids| is capped by the callers at ``_LITERAL_QUERY_MAX``, so
    this is control-plane sized by construction.  Ids absent from the
    corpus are silently omitted (join-path parity: an absent query id
    simply produces no rows)."""
    ids = sorted({int(i) for i in ids})
    if len(ids) > _LITERAL_QUERY_MAX:
        raise ValueError(
            f"{len(ids)} literal query ids exceeds _LITERAL_QUERY_MAX="
            f"{_LITERAL_QUERY_MAX}; use the broadcast-join path"
        )
    spark = vectors.sparkSession
    memo = session_memo(spark) if cache_scope is not None else {}
    key = (f"quant_vec_rows:{id_col}:{vec_col}", cache_scope)
    have: dict[int, list[int]] = memo.setdefault(key, {}) if cache_scope is not None else {}
    missing = [i for i in ids if i not in have]
    if missing:
        q = _quantized_corpus(vectors, vec_col, id_col, cache_scope)
        for r in q.where(F.col("id").isin(missing)).collect():
            have[int(r["id"])] = [int(x) for x in r["__q"]]
    return [(i, have[i]) for i in ids if i in have]


def _assign_struct_expr(cents) -> Column:
    """Argmin ``(d, cell)`` struct over the centroid literal array for the
    row's ``__q`` vector: int64 distances, ties to the smallest cell id.
    (Measured alternatives, both SLOWER despite smaller expression trees:
    binding the matrix as one nested-array Literal and reducing with
    zip_with/element_at costs ~2x at runtime — literal-array element access
    doesn't constant-fold in the interpreted HOF path — and a column-wise
    per-cell agg of dims element_at sums loses to the posexplode
    (cell, dim) rollup by ~40%.)"""
    arr = ", ".join(
        "named_struct('cell', {c}L, 'v', array({vs}))".format(
            c=c, vs=", ".join(f"{x}L" for x in vec)
        )
        for c, vec in cents
    )
    return F.expr(
        f"""
        aggregate(
          transform(array({arr}),
            s -> named_struct(
              'd', aggregate(zip_with(__q, s.v, (a, b) -> (a - b) * (a - b)),
                             0L, (acc, x) -> acc + x),
              'cell', s.cell)),
          cast(null as struct<d: bigint, cell: bigint>),
          (best, x) -> if(best is null or x.d < best.d
                          or (x.d = best.d and x.cell < best.cell), x, best)
        )
        """
    )


def _assign_py(cents, vec: list[int]) -> int:
    """Exact Python replay of :func:`_assign_struct_expr`'s argmin for ONE
    driver-side quantized vector: pure int64 math (Python ints are exact),
    first strict minimum over the cell-ascending centroid list == SQL's
    smallest-cell tiebreak.  Lets a literal query's cell be computed
    without a cluster job."""
    best_d = None
    best_c = None
    for c, cv in cents:
        d = sum((a - b) * (a - b) for a, b in zip(vec, cv))
        if best_d is None or d < best_d:
            best_d, best_c = d, c
    return best_c


def _kmeans_train(
    vectors: DataFrame,
    k: int,
    iters: int,
    vec_col: str,
    id_col: str,
    cache_scope: str | None,
    fetch_ids=None,
):
    """Deterministic integer Lloyd training over the shared quantized
    corpus.  Returns ``(q, cents, got)`` — the persisted quantized frame,
    the trained centroid literals, and the id->vector dict from the seed
    collect.  ``fetch_ids`` rides along in the SAME seed collect (no extra
    job) and also lands in the ``quantized_vec_rows`` memo so literal-query
    consumers pay zero additional collects."""
    import math

    q = _quantized_corpus(vectors, vec_col, id_col, cache_scope)
    extra = sorted({int(i) for i in fetch_ids or ()})
    pred = F.col("id") < k
    if extra:
        pred = pred | F.col("id").isin(extra)
    rows = q.where(pred).select("id", "__q").collect()
    got = {int(r["id"]): [int(x) for x in r["__q"]] for r in rows}
    if cache_scope is not None and extra:
        memo = session_memo(q.sparkSession)
        memo.setdefault(
            (f"quant_vec_rows:{id_col}:{vec_col}", cache_scope), {}
        ).update(got)
    seed = [(i, v) for i, v in got.items() if i < k]
    if not seed:
        raise ValueError(
            f"no seed vectors with {id_col} < {k}: the deterministic seed "
            "rule (shared with the SQL oracle) assumes a dense 0-based id "
            "space — remap ids or lower k"
        )
    cents = sorted(seed)
    for _ in range(iters):
        stats = (
            q.withColumn("cell", _assign_struct_expr(cents).getField("cell"))
            .select("cell", F.posexplode("__q").alias("i", "__qi"))
            .groupBy("cell", "i")
            .agg(F.sum("__qi").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cell: dict[int, dict[int, int]] = {}
        for r in stats:
            # floor(double(sum)/count): both engines' division is the same
            # correctly-rounded IEEE op (sum < 2^53), so Python replays it.
            by_cell.setdefault(int(r["cell"]), {})[int(r["i"])] = math.floor(
                r["s"] / r["n"]
            )
        cents = sorted(
            (cell, [dims[i] for i in range(len(dims))])
            for cell, dims in by_cell.items()
        )
    return q, cents, got


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force top-k cosine neighbors for each query vector.

    Plan: broadcast(queries) x corpus -> cosine -> per-query row_number.
    The corpus never shuffles; norms are computed once per side.  Self-match
    (same id) is excluded.  Ties broken by neighbor id (deterministic).
    """
    q = F.broadcast(
        _with_norm(queries, vec_col).select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("__qv"),
            F.col("__nn").alias("__qn"),
        )
    )
    c = _with_norm(corpus, vec_col).select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("__cv"), F.col("__nn").alias("__cn")
    )
    scored = (
        c.crossJoin(q)
        .where(F.col("n_id") != F.col("q_id"))
        .withColumn(
            "cosine",
            dot_fixed(F.col("__qv"), F.col("__cv")).cast("double")
            / (F.sqrt("__qn") * F.sqrt("__cn")),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def cosine_topk_quantized(
    corpus: DataFrame,
    query_ids,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_scope: str | None = None,
) -> DataFrame:
    """Exact brute-force top-k cosine for a LITERAL query-id set, scored
    over the shared quantized corpus (:func:`_quantized_corpus`) —
    bit-identical ranking to :func:`cosine_topk` (same int64 dot products
    and norms, same IEEE division, same tiebreak) with ONE pure-map job:
    query vectors + norms are plan literals (``quantized_vec_rows`` memo —
    zero collects when a training pass already fetched them), so there is
    no broadcast exchange and no second scan of the raw vectors.  The
    eval-only baseline leg of ``knn_recall_eval`` at 100 TB runs exactly
    this over a query sample.  Query ids absent from the corpus produce no
    rows (``cosine_topk`` parity).  r13, VERDICT r12 next-round #5."""
    qrows = quantized_vec_rows(
        corpus, query_ids, vec_col=vec_col, id_col=id_col,
        cache_scope=cache_scope,
    )
    q = _quantized_corpus(corpus, vec_col, id_col, cache_scope)
    structs = ", ".join(
        "named_struct('q', {q}L, 'n', {n}L, 'v', array({vs}))".format(
            q=qid,
            n=sum(x * x for x in vec),
            vs=", ".join(f"{x}L" for x in vec),
        )
        for qid, vec in qrows
    )
    if not structs:
        return q.sparkSession.range(0).select(
            F.col("id").alias("q_id"),
            F.col("id").alias("n_id"),
            F.col("id").cast("double").alias("cosine"),
            F.col("id").alias("rank"),
        )
    scored = (
        q.select(
            F.col("id").alias("n_id"),
            "__q",
            F.expr(f"explode(array({structs}))").alias("s"),
        )
        .where(F.col("n_id") != F.col("s.q"))
        .select(
            F.col("s.q").alias("q_id"),
            "n_id",
            (
                F.expr(
                    "aggregate(zip_with(__q, s.v, (a, b) -> a * b),"
                    " 0L, (acc, x) -> acc + x)"
                ).cast("double")
                / (
                    F.sqrt(F.col("s.n").cast("double"))
                    * F.sqrt(
                        F.expr(
                            "aggregate(transform(__q, x -> x * x),"
                            " 0L, (acc, x) -> acc + x)"
                        ).cast("double")
                    )
                )
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("n_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def ivf_topk_label(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "label",
) -> DataFrame:
    """IVF-style ANN: restrict the search to the query's coarse cell
    (``cell_col`` plays the quantizer assignment).  Equi-join on the cell id
    -> the cross product collapses to within-cell pairs; at scale this is the
    difference between O(n*q) and O(n*q / n_cells)."""
    q = F.broadcast(
        _with_norm(queries, vec_col).select(
            F.col(id_col).alias("q_id"),
            F.col(cell_col).alias("__cell"),
            F.col(vec_col).alias("__qv"),
            F.col("__nn").alias("__qn"),
        )
    )
    c = _with_norm(corpus, vec_col).select(
        F.col(id_col).alias("n_id"),
        F.col(cell_col).alias("__ccell"),
        F.col(vec_col).alias("__cv"),
        F.col("__nn").alias("__cn"),
    )
    scored = (
        c.join(q, c["__ccell"] == q["__cell"])
        .where(F.col("n_id") != F.col("q_id"))
        .withColumn(
            "cosine",
            dot_fixed(F.col("__qv"), F.col("__cv")).cast("double")
            / (F.sqrt("__qn") * F.sqrt("__cn")),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def kmeans_cells(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_scope: str | None = None,
    with_dist: bool = False,
) -> DataFrame:
    """Deterministic distributed Lloyd's KMeans -> ``(id, cell)`` coarse
    quantizer assignment (the real IVF cell map; ``ivf_topk_label`` uses a
    data column as a stand-in).

    Engine-exact by construction, so a SQL oracle can replay it bit-for-bit:

    - vectors quantized to int64 (``floor(x * 2^25)``), distances are pure
      int64 sums of squared diffs (order-independent; 64 dims x (2^27)^2
      stays < 2^61 — no overflow, no float summation anywhere);
    - init = the ``k`` vectors with the smallest ids (deterministic seed);
    - assignment tie-break: smallest cell id at equal distance;
    - centroid update = per-dimension ``floor(sum/count)`` back onto the
      integer grid (sum < 2^53, so the double division is exact-input and
      correctly rounded — identical across engines);
    - FIXED iteration count (no data-dependent convergence test), so the
      oracle is ``iters`` unrolled CTEs.

    Scale shape per iteration: one broadcast of k centroid rows against the
    corpus (no corpus shuffle) for assignment + one (cell, dim) groupBy for
    the update — both map-side combinable.  k and dims are small by IVF
    design; the corpus is the only big thing and it only ever streams.

    The quantized corpus is the SHARED persisted artifact
    (:func:`_quantized_corpus`): id + int64 array, far smaller than the
    source vectors, disk-backed level — the standard MLlib iterative-
    working-set pattern — memoized per dataset scope so KMeans / IVF / PQ /
    recall-eval all quantize once; ``queries.invalidate_caches`` evicts it
    by scope.  Centroids live DRIVER-SIDE as literals — k x dims values is
    tiny by IVF design — embedded in the assignment expression so each
    Lloyd iteration is a pure map over the corpus: no crossJoin, no per-row
    argmin window shuffle, no lineage checkpoint.  Per iteration the
    cluster does ONE map-side-combinable per-cell aggregation; only k*dims
    summary values return to the driver.
    """
    q, cents, _ = _kmeans_train(
        vectors, k=k, iters=iters, vec_col=vec_col, id_col=id_col,
        cache_scope=cache_scope,
    )

    def assign_struct(cents) -> Column:
        return _assign_struct_expr(cents)

    def assign_col(cents) -> Column:
        return _assign_struct_expr(cents).getField("cell")

    if with_dist:
        # final assignment's argmin struct also carries the exact int64
        # squared distance to the winning centroid — SemDeDup's keep-the-
        # farthest rule needs it, and emitting it from the same struct is
        # free (one map expression, evaluated once).
        return q.withColumn("__a", assign_struct(cents)).select(
            "id",
            F.col("__a.cell").alias("cell"),
            F.col("__a.d").alias("centroid_dist"),
        )
    return q.withColumn("cell", assign_col(cents)).select("id", "cell")


def ivf_topk_cells(
    corpus: DataFrame,
    query_ids,
    k_neighbors: int = 3,
    n_cells: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_scope: str | None = None,
) -> DataFrame:
    """IVF ANN with a REAL trained coarse quantizer: KMeans cells from
    :func:`kmeans_cells`, then cell-restricted exact cosine top-k for the
    query ids (nprobe=1 — the query searches its own cell).  The recall/
    speed knob at scale is (n_cells, nprobe); the corpus never leaves its
    cell partition.

    Query sets up to ``_LITERAL_QUERY_MAX`` take the LITERAL path (r13,
    VERDICT r12 next-round #5): the query vectors ride along in the seed
    collect (same job), their cells and norms replay driver-side in exact
    integer math, and scoring is ONE pure-map job over the shared quantized
    corpus — per row, ``explode(filter(queries, s -> s.c = cell))`` expands
    only to the queries probing that row's cell.  No broadcast exchange, no
    join, no second corpus scan; the same driver-literal boundary as the PQ
    ADC LUTs.  Larger query sets keep the broadcast-join path."""
    qids = sorted({int(i) for i in query_ids})
    if len(qids) <= _LITERAL_QUERY_MAX:
        q, cents, got = _kmeans_train(
            corpus, k=n_cells, iters=iters, vec_col=vec_col, id_col=id_col,
            cache_scope=cache_scope, fetch_ids=qids,
        )
        qrows = [(i, got[i]) for i in qids if i in got]
        structs = ", ".join(
            "named_struct('q', {q}L, 'c', {c}L, 'n', {n}L, 'v', array({vs}))".format(
                q=qid,
                c=_assign_py(cents, vec),
                n=sum(x * x for x in vec),
                vs=", ".join(f"{x}L" for x in vec),
            )
            for qid, vec in qrows
        )
        if not structs:
            return (
                corpus.sparkSession.range(0)
                .select(
                    F.col("id").alias("q_id"),
                    F.col("id").alias("n_id"),
                    F.col("id").cast("double").alias("cosine"),
                    F.col("id").alias("rank"),
                )
            )
        scored = (
            q.withColumn("cell", _assign_struct_expr(cents).getField("cell"))
            .select(
                F.col("id").alias("n_id"),
                "__q",
                F.expr(
                    f"explode(filter(array({structs}), s -> s.c = cell))"
                ).alias("s"),
            )
            .where(F.col("n_id") != F.col("s.q"))
            .select(
                F.col("s.q").alias("q_id"),
                "n_id",
                (
                    F.expr(
                        "aggregate(zip_with(__q, s.v, (a, b) -> a * b),"
                        " 0L, (acc, x) -> acc + x)"
                    ).cast("double")
                    / (
                        F.sqrt(F.col("s.n").cast("double"))
                        * F.sqrt(
                            F.expr(
                                "aggregate(transform(__q, x -> x * x),"
                                " 0L, (acc, x) -> acc + x)"
                            ).cast("double")
                        )
                    )
                ).alias("cosine"),
            )
        )
        w = Window.partitionBy("q_id").orderBy(
            F.col("cosine").desc(), F.col("n_id").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k_neighbors)
            .select(
                "q_id", "n_id", "cosine", F.col("rank").cast("long").alias("rank")
            )
        )
    cells = kmeans_cells(
        corpus, k=n_cells, iters=iters, vec_col=vec_col, id_col=id_col,
        cache_scope=cache_scope,
    )
    base = _with_norm(corpus, vec_col).join(
        cells.withColumnRenamed("id", id_col), id_col
    )
    q = F.broadcast(
        base.where(F.col(id_col).isin(list(query_ids)))
        .select(
            F.col(id_col).alias("q_id"),
            F.col("cell").alias("__cell"),
            F.col(vec_col).alias("__qv"),
            F.col("__nn").alias("__qn"),
        )
    )
    c = base.select(
        F.col(id_col).alias("n_id"),
        F.col("cell").alias("__ccell"),
        F.col(vec_col).alias("__cv"),
        F.col("__nn").alias("__cn"),
    )
    scored = (
        c.join(q, c["__ccell"] == q["__cell"])
        .where(F.col("n_id") != F.col("q_id"))
        .withColumn(
            "cosine",
            dot_fixed(F.col("__qv"), F.col("__cv")).cast("double")
            / (F.sqrt("__qn") * F.sqrt("__cn")),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_neighbors)
        .select("q_id", "n_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def _pq_code_expr(cents_s, offset: int, width: int) -> Column:
    """Argmin codeword id for ONE subspace: integer squared distance from
    ``slice(__q, offset, width)`` to each codeword literal, ties to the
    smallest code id.  Same literal-centroid pattern as ``kmeans_cells`` —
    a pure map expression, no join, no shuffle."""
    arr = ", ".join(
        "named_struct('cell', {c}L, 'v', array({vs}))".format(
            c=c, vs=", ".join(f"{x}L" for x in vec)
        )
        for c, vec in cents_s
    )
    return F.expr(
        f"""
        aggregate(
          transform(array({arr}),
            s -> named_struct(
              'd', aggregate(zip_with(slice(__q, {offset}, {width}), s.v,
                             (a, b) -> (a - b) * (a - b)),
                             0L, (acc, x) -> acc + x),
              'cell', s.cell)),
          cast(null as struct<d: bigint, cell: bigint>),
          (best, x) -> if(best is null or x.d < best.d
                          or (x.d = best.d and x.cell < best.cell), x, best)
        ).cell
        """
    )


def pq_train_encode(
    vectors: DataFrame,
    m: int = 4,
    k_codes: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_scope: str | None = None,
):
    """Product-quantization training + encoding: split each vector into
    ``m`` subspaces, train an independent ``k_codes``-codeword codebook per
    subspace (deterministic integer Lloyd's — same determinism contract as
    :func:`kmeans_cells`: quantized int64 components, integer distances,
    smallest-``m`` ids as seeds, ``floor(sum/count)`` centroid updates,
    fixed iteration count), and encode every vector as ``m`` small code ids.

    Returns ``(codebooks, coded, seed_vecs)`` where ``codebooks[s]`` is the
    sorted ``(code_id, subvector_ints)`` list for subspace ``s``, ``coded``
    is the corpus with a ``__codes`` array<bigint> column (and the quantized
    ``__q`` vector), and ``seed_vecs`` maps the collected seed ids to their
    quantized vectors (callers needing a few more driver-side vectors — ADC
    query LUTs — can reuse them instead of paying another collect job).

    Scale shape: the corpus is quantized ONCE and persisted; each Lloyd
    round is a pure map (codebook literals embedded in the argmin
    expression) plus ONE map-side-combinable ``(sub, code, dim)`` groupBy
    whose result — ``m * k * d_sub`` summary longs — is all the driver ever
    sees.  ALL subspaces train in the same pass, so ``m`` does not multiply
    the number of jobs.  This is the memory-reduction path for 100 TB ANN:
    the encoded corpus is ``m`` bytes-ish per vector instead of ``4 * dims``.
    """
    import math

    q = _quantized_corpus(vectors, vec_col, id_col, cache_scope)

    # Seed: the k_codes smallest ids; codebook s starts as their s-th
    # subvectors (bounded k-row collect — control-plane sized by design).
    seed = sorted(
        ((int(r["id"]), [int(x) for x in r["__q"]]) for r in
         q.where(F.col("id") < k_codes).collect())
    )
    if not seed:
        raise ValueError(
            f"no seed vectors with {id_col} < {k_codes}: the deterministic "
            "seed rule (shared with the SQL oracle) assumes a dense 0-based "
            "id space — remap ids or lower k_codes"
        )
    dims = len(seed[0][1])
    if dims % m:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    w = dims // m
    cents = [
        [(cid, vec[s * w : (s + 1) * w]) for cid, vec in seed]
        for s in range(m)
    ]

    def sub_structs(cents) -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(s).alias("sub"),
                    _pq_code_expr(cents[s], s * w + 1, w).alias("cell"),
                    F.slice("__q", s * w + 1, w).alias("sv"),
                )
                for s in range(m)
            ]
        )

    for _ in range(iters):
        stats = (
            q.select(F.explode(sub_structs(cents)).alias("e"))
            .select("e.sub", "e.cell", F.posexplode("e.sv").alias("j", "qi"))
            .groupBy("sub", "cell", "j")
            .agg(F.sum("qi").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_sub: dict[int, dict[int, dict[int, int]]] = {}
        for r in stats:
            # floor(double(sum)/count): exact-input, correctly-rounded IEEE
            # division (|sum| < 2^53) — replays identically in SQL engines.
            by_sub.setdefault(int(r["sub"]), {}).setdefault(int(r["cell"]), {})[
                int(r["j"])
            ] = math.floor(r["s"] / r["n"])
        cents = [
            sorted(
                (cell, [dims_map[j] for j in range(w)])
                for cell, dims_map in by_sub.get(s, {}).items()
            )
            for s in range(m)
        ]

    coded = q.withColumn(
        "__codes", F.array(*[_pq_code_expr(cents[s], s * w + 1, w) for s in range(m)])
    )
    return cents, coded, dict(seed)


def pq_topk_adc_resident(
    corpus: DataFrame,
    query_ids,
    k_neighbors: int = 5,
    m: int = 4,
    k_codes: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_scope: str | None = None,
) -> DataFrame:
    """Serving-semantics PQ ANN: train once per dataset, score per request.

    PQ-compressed ANN with asymmetric distance computation (ADC), Jegou et
    al., "Product Quantization for Nearest Neighbor Search" (TPAMI 2011):
    the corpus is stored as ``m`` code ids per vector; a query precomputes
    an ``m x k`` lookup table of exact squared distances from its
    subvectors to every codeword, and a corpus vector's approximate
    distance is ``m`` table lookups summed.  Codebooks and per-query LUTs
    are integer literals in the plan, so scoring is a pure map over the
    encoded corpus plus one per-query top-k window; every distance is an
    int64 sum and ties break on neighbor id, so the SQL oracle replays
    training, encoding, LUTs and ADC bit-for-bit.

    The first call per ``cache_scope`` pays the honest build
    (:func:`pq_train_encode`: deterministic Lloyd training + corpus
    encoding); every later call reuses the memoized codebooks and the
    PERSISTED encoded corpus and pays only the ADC scoring map + one top-k
    window — the resident-pipeline lifecycle where an index is (re)built on
    a schedule and served many times (the table-backed index is
    :func:`build_pq_index_mtable`/:func:`search_pq_index_mtable`; VERDICT r9
    next-round #2).  ``queries.invalidate_caches`` evicts the codebook memo
    and the encoded frame together by scope, so a table rewrite forces
    retraining.  A fresh scope and a warm one give bit-identical results
    (same codebooks, same integer ADC, same tiebreak), which is what keeps
    the SQL oracle — always a fresh-session honest build — hash-exact."""
    from ._cache import get_or_register, session_memo

    query_ids = list(query_ids)
    if not query_ids:
        raise ValueError("query_ids must be non-empty")
    spark = corpus.sparkSession
    memo = session_memo(spark)
    mk = ("pq_resident_model", cache_scope)
    qk = ("pq_resident_queries", cache_scope, tuple(sorted(query_ids)))
    if mk not in memo:
        cents, coded0, seed_vecs = pq_train_encode(
            corpus, m=m, k_codes=k_codes, iters=iters, vec_col=vec_col,
            id_col=id_col, cache_scope=cache_scope,
        )
        missing = [qid for qid in query_ids if qid not in seed_vecs]
        fetched = {
            int(r["id"]): [int(x) for x in r["__q"]]
            for r in (
                coded0.where(F.col("id").isin(missing)).select("id", "__q").collect()
                if missing
                else ()
            )
        }
        absent = [qid for qid in missing if qid not in fetched]
        if absent:
            raise ValueError(f"query ids not present in the corpus: {absent[:10]}")
        memo[mk] = cents
        memo[qk] = sorted(
            (int(qid), seed_vecs.get(qid) or fetched[qid]) for qid in query_ids
        )
    cents = memo[mk]
    w = len(cents[0][0][1])
    coded = get_or_register(
        spark,
        ("pq_resident_codes", cache_scope),
        lambda: corpus.select(
            F.col(id_col).alias("id"),
            F.transform(F.col(vec_col), lambda x: _quant(x)).alias("__q"),
        )
        .withColumn(
            "__codes",
            F.array(*[_pq_code_expr(cents[s], s * w + 1, w) for s in range(m)]),
        )
        .select("id", "__q", "__codes"),
    )
    if qk not in memo:  # new query set against the resident index
        fetched = {
            int(r["id"]): [int(x) for x in r["__q"]]
            for r in coded.where(F.col("id").isin(query_ids))
            .select("id", "__q")
            .collect()
        }
        absent = [qid for qid in query_ids if qid not in fetched]
        if absent:
            raise ValueError(f"query ids not present in the corpus: {absent[:10]}")
        memo[qk] = sorted((int(qid), fetched[qid]) for qid in query_ids)
    return _adc_scored_topk(
        coded, cents, memo[qk], m=m, k_codes=k_codes,
        k_neighbors=k_neighbors, exclude_self=True,
    )


def _adc_scored_topk(
    coded: DataFrame,
    cents,
    qrows,
    m: int,
    k_codes: int,
    k_neighbors: int,
    exclude_self: bool,
) -> DataFrame:
    """ADC scoring core shared by the in-session path
    (:func:`pq_topk_adc_resident`) and the table-backed index
    (:func:`search_pq_index_mtable`): per-query LUT literals, one
    pure-map explode over the encoded corpus,
    one per-query top-k window exchange.  ``exclude_self`` drops
    ``n_id == q_id`` matches — correct when queries are corpus members,
    wrong for an external query id space."""
    w = len(qrows[0][1]) // m
    lut_structs = []
    for qid, vec in qrows:
        per_sub = []
        for s in range(m):
            sub_v = vec[s * w : (s + 1) * w]
            # Indexed by code id (0..k_codes-1); codes whose cluster emptied
            # during training keep a 0 slot that no row can reference.
            row = [0] * k_codes
            for cid, cvec in cents[s]:
                row[cid] = sum((a - b) * (a - b) for a, b in zip(sub_v, cvec))
            per_sub.append("array({})".format(", ".join(f"{d}L" for d in row)))
        lut_structs.append(
            "named_struct('q', {q}L, 'l', array({ls}))".format(
                q=qid, ls=", ".join(per_sub)
            )
        )
    dist_terms = " + ".join(
        f"element_at(element_at(t.l, {s + 1}), cast(element_at(__codes, {s + 1}) as int) + 1)"
        for s in range(m)
    )
    scored = F.expr(
        "transform(array({arr}), t -> named_struct('q_id', t.q, 'dist', {dist}))".format(
            arr=", ".join(lut_structs), dist=dist_terms
        )
    )
    flat = coded.select(F.col("id").alias("n_id"), F.explode(scored).alias("e")).select(
        "n_id", F.col("e.q_id").alias("q_id"), F.col("e.dist").alias("dist")
    )
    if exclude_self:
        flat = flat.where(F.col("n_id") != F.col("q_id"))
    wnd = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("n_id").asc())
    return (
        flat.withColumn("rank", F.row_number().over(wnd))
        .where(F.col("rank") <= k_neighbors)
        .select(
            "q_id",
            "n_id",
            F.col("dist").cast("double").alias("adc_dist"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def build_pq_index_mtable(
    corpus: DataFrame,
    tbl,
    m: int = 4,
    k_codes: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> int:
    """The ANN index AS AN ACID TABLE: train PQ once and commit the encoded
    corpus as one mtable version, with the codebooks + parameters riding
    the SAME atomic manifest commit (``extra_meta``) — composing the two
    scale subsystems into the production index lifecycle:

    - **atomic publish / rollback**: a crashed build publishes NOTHING (no
      marker-file ordering to reason about); a bad rebuild rolls back by
      reading the previous version;
    - **index time travel**: ``search_pq_index_mtable(tbl, q, version=n)``
      answers with EXACTLY the index as of version n — codes AND the
      codebooks that encoded them (reproducing yesterday's retrieval for
      an eval re-run);
    - **OCC appends**: racing ingest appends rebase through the manifest
      CAS instead of corrupting the codes directory;
    - **compaction**: streaming appends' small files collapse via
      ``tbl.compact()`` under snapshot isolation — searches never see a
      half-compacted index.

    The codes table is partitioned by the FIRST subspace code (``c0``,
    <= ``k_codes`` partitions): compactable, and the layout clusters the
    coarsest quantization cell together.  Returns the committed version."""
    cents, coded, _seed = pq_train_encode(
        corpus, m=m, k_codes=k_codes, iters=iters,
        vec_col=vec_col, id_col=id_col, cache_scope=f"mtable:{tbl.path}",
    )
    rows = coded.select(
        "id",
        "__codes",
        F.element_at("__codes", 1).cast("string").alias("c0"),
    )
    meta = {
        "pq": {
            "m": m,
            "k_codes": k_codes,
            "iters": iters,
            "d_sub": len(cents[0][0][1]),
            "fixed_point_scale": FIXED_POINT_SCALE,
            "codebooks": [[[cid, list(vec)] for cid, vec in sub] for sub in cents],
        }
    }
    return tbl.write(rows, mode="overwrite", partition_by="c0", extra_meta=meta)


def _pq_meta_mtable(tbl, version: int) -> dict:
    """The codebook record governing ``version``: its own manifest meta,
    else the nearest ancestor's (compaction commits carry their own meta;
    codebooks only change on a rebuild, which always writes one)."""
    v = version
    while v is not None:
        raw = tbl._read_manifest_raw(v)
        pq = (raw.get("meta") or {}).get("pq")
        if pq:
            return pq
        v = raw.get("parent")
    raise ValueError(
        f"{tbl.path} version {version} has no PQ codebook meta in its "
        "history: not an index table built by build_pq_index_mtable"
    )


def append_pq_index_mtable(
    tbl,
    vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> int:
    """Incremental index maintenance on the table backend: encode NEW
    vectors against the FROZEN codebooks and commit them as an mtable
    append — no retraining, no rescan or rewrite of the existing codes:
    codebooks drift slowly and retrain on a schedule (a rebuild), while
    ingest appends cheaply between rebuilds.  Guards: dimension check,
    batch-internal and against-index duplicate ids (ids are search
    identities; a collision would serve one id with two code rows).  The
    publish is a CAS'd manifest commit: a racing append/compaction rebases
    instead of interleaving files, and the pre-append index version remains
    searchable (time travel) until vacuum.  Returns the committed
    version."""
    cur = tbl._latest()
    if cur is None:
        raise ValueError(f"no committed index at {tbl.path}: build first")
    v0, _m0 = cur
    pq = _pq_meta_mtable(tbl, v0)
    cents = [
        [(int(cid), [int(x) for x in vec]) for cid, vec in sub]
        for sub in pq["codebooks"]
    ]
    m, w = int(pq["m"]), int(pq["d_sub"])
    dims = m * w
    newv = vectors.select(
        F.col(id_col).alias("id"),
        F.size(F.col(vec_col)).alias("__dims"),
        F.transform(F.col(vec_col), lambda x: _quant(x)).alias("__q"),
    ).localCheckpoint(eager=True)
    bad = newv.where(F.col("__dims") != dims).count()
    if bad:
        raise ValueError(
            f"{bad} append vectors have dims != {dims} (index m={m} d_sub={w})"
        )
    dup_in = newv.groupBy("id").count().where(F.col("count") > 1).count()
    if dup_in:
        raise ValueError(
            f"{dup_in} ids appear more than once in the append batch at "
            f"{tbl.path!r}: dedupe the batch before appending"
        )
    existing = tbl.read(version=v0)
    if existing is not None:
        dup = newv.join(existing.select("id"), "id", "left_semi").count()
        if dup:
            raise ValueError(
                f"{dup} append ids already exist in the index at "
                f"{tbl.path!r}: ids are search identities — use a fresh id "
                "range or rebuild"
            )
    coded = newv.withColumn(
        "__codes",
        F.array(*[_pq_code_expr(cents[s], s * w + 1, w) for s in range(m)]),
    ).select(
        "id",
        "__codes",
        F.element_at("__codes", 1).cast("string").alias("c0"),
    )
    return tbl.write(
        coded,
        mode="append",
        extra_meta={
            "pq": pq,
            "appended_batch": True,
        },
    )


def search_pq_index_mtable(
    tbl,
    queries,
    k_neighbors: int = 5,
    version: int | None = None,
) -> DataFrame:
    """Serve ANN queries from the table-backed index — optionally from ANY
    retained version (``version=n``): the snapshot read plans against
    exactly that version's code files and the codebooks that encoded them,
    so a historical search replays bit-for-bit (the eval-reproducibility
    contract no directory index can offer).  Query LUTs as in
    :func:`pq_topk_adc_resident`; external query ids, no self-exclusion."""
    import math

    queries = list(queries)
    if not queries:
        raise ValueError("queries must be non-empty")
    if version is None:
        cur = tbl._latest()
        if cur is None:
            raise ValueError(f"no committed index at {tbl.path}")
        version = cur[0]
    pq = _pq_meta_mtable(tbl, version)
    cents = [
        [(int(cid), [int(x) for x in vec]) for cid, vec in sub]
        for sub in pq["codebooks"]
    ]
    scale = float(pq["fixed_point_scale"])
    dims = int(pq["d_sub"]) * int(pq["m"])
    qrows = []
    for qid, vec in sorted((int(q), list(v)) for q, v in queries):
        if len(vec) != dims:
            raise ValueError(
                f"query {qid} has {len(vec)} dims, index expects {dims}"
            )
        qrows.append((qid, [math.floor(float(x) * scale) for x in vec]))
    codes = tbl.read(version=version)
    if codes is None:
        raise ValueError(f"index version {version} at {tbl.path} is empty")
    return _adc_scored_topk(
        codes.select("id", "__codes"), cents, qrows,
        m=int(pq["m"]), k_codes=int(pq["k_codes"]),
        k_neighbors=k_neighbors, exclude_self=False,
    )


def random_projection(
    vectors: DataFrame,
    out_dims: int = 8,
    in_dims: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "rp0",
) -> DataFrame:
    """Deterministic sparse random projection (Achlioptas ±1 /
    Johnson-Lindenstrauss): project ``in_dims`` float embeddings to
    ``out_dims`` via a sign matrix derived from md5 — the dimensionality
    reduction an ANN pipeline runs BEFORE indexing at 100 TB (shorter
    vectors = smaller codes, cheaper distances; JL guarantees pairwise
    distances distort by at most eps with out_dims = O(log n / eps^2)).

    Engine-exact randomness: ``sign(i, j) = +1 if the first hex digit of
    md5('{seed}#i#j') is even else -1`` — both engines compute the
    identical matrix, and the projection is an int64 sum of quantized
    components times ±1 (order-free exact; the double output is one IEEE
    division by the fixed-point scale).  The matrix is driver-side
    literals (out_dims x in_dims ints — control-plane sized, the PQ
    codebook pattern), so projection is a pure MAP over the corpus: no
    join, no shuffle, whole-stage codegen.

    Returns long-form ``(id, j, value_scaled, value)`` — one row per
    output dimension, the layout the differential oracle hashes exactly.

    ``in_dims=None`` (default) derives the width from the data (one
    control-plane ``head()``) — a hardcoded width longer than the actual
    vectors made ``zip_with`` null-pad the corpus side and null-poison
    every projection sum on corpora of a different dim (caught by the r9
    sf5 sweep on 16-dim synthetic embeddings).
    """
    import hashlib

    if in_dims is None:
        first = vectors.select(vec_col).head()
        if first is None:
            raise ValueError("random_projection on an empty corpus")
        in_dims = len(first[0])
    signs = [
        [
            1 if int(hashlib.md5(f"{seed}#{i}#{j}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for i in range(in_dims)
        ]
        for j in range(out_dims)
    ]
    q = vectors.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: _quant(x).cast("long")).alias("__q"),
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(j).cast("long").alias("j"),
                F.aggregate(
                    F.zip_with(
                        F.col("__q"),
                        F.array(*[F.lit(s).cast("long") for s in signs[j]]),
                        lambda a, b: a * b,
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                ).alias("value_scaled"),
            )
            for j in range(out_dims)
        ]
    )
    return (
        q.select("id", F.explode(rows).alias("e"))
        .select(
            "id",
            F.col("e.j").alias("j"),
            F.col("e.value_scaled").alias("value_scaled"),
            (
                F.col("e.value_scaled").cast("double") / F.lit(float(FIXED_POINT_SCALE))
            ).alias("value"),
        )
    )


def mmr_diverse_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k_select: int = 5,
    k_candidates: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR 1998)
    diversified top-k: exact brute-force top-``k_candidates`` per query
    (JVM-side — the corpus-scale stage), then the inherently-sequential
    MMR selection loop runs per query group over the TINY candidate set
    via Arrow-batched ``applyInPandas`` (the documented custom-operator
    seam: ``k_select`` greedy steps cannot be expressed as a fixed
    DataFrame plan without unrolling, and the data at that point is
    ``|Q| * k_candidates`` rows regardless of corpus size).

    Scoring: ``score(c) = 0.7 * rel(c) - 0.3 * max_{s in S} sim(c, s)``
    (max over the empty set = 0.0), relevance and pairwise similarities
    both fixed-point cosines, ties to the smallest neighbor id — every
    float op is a correctly-rounded IEEE double op over engine-identical
    inputs, so a SQL oracle replays the selection bit-for-bit.

    At 100 TB: candidate generation is the only stage that touches the
    corpus (broadcast queries, no corpus shuffle, per-query top-k); the
    MMR stage shuffles ``|Q| * k_candidates`` short rows to ``|Q|``
    groups — bounded by the query workload, not the data.
    """
    import pandas as pd

    cand = cosine_topk(
        corpus, queries, k=k_candidates, vec_col=vec_col, id_col=id_col
    ).select("q_id", "n_id", F.col("cosine").alias("rel"))
    qvec = corpus.select(
        F.col(id_col).alias("n_id"),
        F.transform(F.col(vec_col), lambda x: _quant(x)).alias("__q"),
    )
    # candidates-to-vectors join: the candidate list is query-workload sized —
    # broadcast it against the corpus scan, never shuffle the corpus.
    with_vec = qvec.join(F.broadcast(cand), "n_id")

    out_schema = (
        "q_id long, n_id long, relevance double, mmr_score double, pick long"
    )

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = [int(x) for x in pdf["n_id"]]
        rels = [float(x) for x in pdf["rel"]]
        vecs = [[int(v) for v in arr] for arr in pdf["__q"]]
        import math as _math

        norms = [_math.sqrt(float(sum(v * v for v in vec))) for vec in vecs]

        def sim(a: int, b: int) -> float:
            dot = sum(x * y for x, y in zip(vecs[a], vecs[b]))
            return float(dot) / (norms[a] * norms[b])

        selected: list[int] = []
        rows = []
        n = len(ids)
        for pick in range(1, min(k_select, n) + 1):
            best = None
            for c in range(n):
                if c in selected:
                    continue
                maxsim = max((sim(c, s) for s in selected), default=0.0)
                score = 0.7 * rels[c] - 0.3 * maxsim
                key = (score, -ids[c])
                if best is None or key > best[0]:
                    best = (key, c, score)
            _, c, score = best
            selected.append(c)
            rows.append(
                {
                    "q_id": int(pdf["q_id"].iloc[0]),
                    "n_id": ids[c],
                    "relevance": rels[c],
                    "mmr_score": score,
                    "pick": pick,
                }
            )
        return pd.DataFrame(rows)

    return with_vec.groupBy("q_id").applyInPandas(_mmr, out_schema)


def sign_lsh_neardup(
    vectors: DataFrame,
    threshold: float = 0.35,
    bands: int = 4,
    band_bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding near-dup pairs via sign-pattern LSH.

    Band b's key = the sign bits of coordinates [b*w, (b+1)*w) where
    ``w = min(band_bits, dim // bands)`` — the band width ADAPTS to the
    corpus dimension (one control-plane ``head()``).  A hardcoded width
    longer than dim/bands left the trailing bands with EMPTY keys, turning
    them into a single whale bucket that degraded candidate generation to
    an all-pairs self-join (caught by the r9 sf5 sweep on 16-dim synthetic
    embeddings: the Spark job and the DuckDB oracle both went quadratic).
    On a 64-dim corpus with the (4, 8) defaults w stays 8 — the original
    banding, hash-stable.

    Vectors agreeing on ANY full band are candidates (cosine-correlated:
    sign agreement probability rises with angle similarity); candidates then
    pass an exact cosine filter.  Self-join shuffles only (band, w-char key).
    """
    first = vectors.select(vec_col).head()
    if first is None:
        return vectors.sparkSession.createDataFrame(
            [], "vec_a long, vec_b long, cosine double"
        )
    band_bits = max(1, min(band_bits, len(first[0]) // bands))
    sig = F.concat_ws(
        "",
        F.transform(
            F.slice(F.col(vec_col), 1, bands * band_bits),
            lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0")),
        ),
    )
    base = _with_norm(vectors, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("__v"), F.col("__nn"), sig.alias("__sig")
    )
    # ONE explode, not a per-band union loop: the loop consumed `base`
    # once per band and Spark does not reuse the duplicated subtrees, so
    # 4 bands cost 4 corpus scans + 4 norm computations PER SELF-JOIN SIDE
    # (audited: 20 parquet scans in the plan; 8 after this rewrite — same
    # banding shape dedup.simhash_pairs already uses).
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.substring("__sig", b * band_bits + 1, band_bits).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    parts = base.select(F.explode(band_structs).alias("__b"), "id").select(
        F.col("__b.band").alias("band"), F.col("__b.band_key").alias("band_key"), "id"
    )
    a = parts.alias("a")
    bb = parts.alias("b")
    # Dedup candidates on ids ONLY (short keys), then re-attach vectors —
    # never shuffle the embedding arrays through the distinct.
    cand_ids = (
        a.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("vec_a"), F.col("b.id").alias("vec_b"))
        .distinct()
    )
    va = base.select(
        F.col("id").alias("vec_a"), F.col("__v").alias("__va"), F.col("__nn").alias("__na")
    )
    vb = base.select(
        F.col("id").alias("vec_b"), F.col("__v").alias("__vb"), F.col("__nn").alias("__nb")
    )
    cand = cand_ids.join(va, "vec_a").join(vb, "vec_b")
    return (
        cand.withColumn(
            "cosine",
            dot_fixed(F.col("__va"), F.col("__vb")).cast("double")
            / (F.sqrt("__na") * F.sqrt("__nb")),
        )
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def semantic_dedup(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_scope: str | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with the deterministic KMeans
    coarse quantizer, compare embeddings pairwise ONLY within a cluster,
    and inside every epsilon-ball (pairs with cosine >= ``threshold``)
    keep the member FARTHEST from its cluster centroid — the paper's
    keep-low-centroid-similarity rule, which preserves the diverse/
    outlier member of each semantic-duplicate group.

    Decision rule (deterministic, engine-exact): row ``x`` is dropped iff
    some same-cell ``y`` exists with ``cos(x, y) >= threshold`` and
    (``y.centroid_dist > x.centroid_dist``, ties to the smaller id) —
    a dominance relation with a unique maximum per epsilon-ball, so
    exactly one survivor per mutually-duplicate group and no dependence
    on traversal order.  Distances are exact int64 (``kmeans_cells``
    ``with_dist``); cosines are the fixed-point contract shared by every
    similarity operator here, so a SQL oracle replays the whole pipeline
    bit-for-bit.

    Returns one row per input vector: ``(id, cell, centroid_dist,
    is_kept)`` — the audit frame; filter ``is_kept`` for the pruned
    corpus.

    Scale shape: assignment is a literal-centroid map (no corpus
    shuffle), then ONE shuffle by cell for the self-join — pairwise work
    is n^2/k per cell instead of the all-pairs n^2, and ``k`` is the
    independent knob (SemDeDup runs 50k clusters at LAION scale for
    exactly this reason); the dominance test needs no connected
    components, no iteration.  Skewed cells split under AQE; the exists-
    aggregation is map-side combinable on the short (id) key.
    """
    from pyspark import StorageLevel

    assigned = kmeans_cells(
        vectors, k=k, iters=iters, vec_col=vec_col, id_col=id_col,
        cache_scope=cache_scope, with_dist=True,
    )
    if cache_scope is not None:
        # three plan subtrees consume the assignment (both pair-join sides
        # and the final audit join); each would re-run the literal-centroid
        # map over the corpus otherwise.
        assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
        register_persisted(assigned, ("semdedup_assigned", cache_scope))
    # Pair generation on the SKINNY (id, cell, dist) projection only — the
    # embedding arrays never ride through the k-key cell join (k keys = k
    # tasks: a parallelism collapse AND a wide-row shuffle if the vectors
    # come along).  Pairs are then spread round-robin across the full
    # parallelism BEFORE the vectors are attached and the 64-dim dots
    # evaluated — the dedup_edit_distance pattern: move the skinny
    # candidate set, not the payloads, and pay the expensive per-pair
    # function at full width.
    a = assigned.select(
        F.col("id").alias("__ia"), F.col("cell").alias("__ca"),
        F.col("centroid_dist").alias("__da"),
    )
    b = assigned.select(
        F.col("id").alias("__ib"), F.col("cell").alias("__cb"),
        F.col("centroid_dist").alias("__db"),
    )
    pair_ids = (
        a.join(
            b,
            (F.col("__ca") == F.col("__cb"))
            & (
                (F.col("__db") > F.col("__da"))
                | ((F.col("__db") == F.col("__da")) & (F.col("__ib") < F.col("__ia")))
            ),
        )
        .select("__ia", "__ib")
        .repartition(vectors.sparkSession.sparkContext.defaultParallelism)
    )
    # pre-quantized int vectors + fixed-point norm, computed ONCE per side
    # (dot_fixed would re-floor both arrays per pair evaluation)
    qv = vectors.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: _quant(x)).alias("__q"),
    ).withColumn(
        "__nn",
        F.aggregate(
            F.col("__q"), F.lit(0).cast("long"), lambda acc, v: acc + v * v
        ).cast("double"),
    )
    qa = qv.select(
        F.col("id").alias("__ia"), F.col("__q").alias("__qa"), F.col("__nn").alias("__na")
    )
    qb = qv.select(
        F.col("id").alias("__ib"), F.col("__q").alias("__qb"), F.col("__nn").alias("__nb")
    )
    intdot = F.aggregate(
        F.zip_with(F.col("__qa"), F.col("__qb"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    dominated = (
        pair_ids.join(qa, "__ia")
        .join(qb, "__ib")
        .where(
            intdot.cast("double") / (F.sqrt("__na") * F.sqrt("__nb"))
            >= F.lit(float(threshold))
        )
        .select(F.col("__ia").alias("id"))
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    return (
        assigned.join(dominated, "id", "left")
        .select(
            "id",
            "cell",
            "centroid_dist",
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("is_kept"),
        )
    )

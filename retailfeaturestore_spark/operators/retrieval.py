"""Retrieval operators: BM25 lexical ranking and reciprocal-rank fusion.

Extracted from the certified query implementations (``bm25_retrieval``,
``hybrid_retrieval_rrf`` — both hash-exact vs their DuckDB oracles) so the
same ranking code serves the oracle-checked queries and ad-hoc corpus
curation searches.

Determinism contract (SURVEY.md §5.2): BM25 keeps the exact rational idf
(no log) and quantizes per-term scores to x1e12 longs BEFORE the cross-term
sum; RRF quantizes per-list contributions the same way — both rankings are
engine-exact, not approximately-equal.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["bm25_topk", "rrf_fuse"]

# query-term count up to which bm25_topk matches terms map-side; above it a
# broadcast-semi-join explode path handles arbitrary vocabularies
BM25_MAX_LITERAL_TERMS = 64
# BM25 term-saturation and length-normalization constants
_K1, _B = 1.2, 0.75
# documents kept per query by bm25_topk and by rrf_fuse
TOP_K = 10
# the RRF rank offset (Cormack et al.'s k = 60)
RRF_K0 = 60


def bm25_topk(
    docs: DataFrame,
    term_queries: Iterable[tuple[int, str]],
    pretokenized: DataFrame | None = None,
    stats: tuple[int, int] | None = None,
    term_dfs: dict[str, int] | None = None,
) -> DataFrame:
    """BM25 top-``TOP_K`` per query over a (query_id, term) bag.

    Scale shape (re-planned r13; history: the pre-r11 path exploded EVERY
    token and re-ran the corpus pipeline under two broadcast branches;
    r11 moved term frequencies map-side behind a per-doc ``isin`` prune
    with a sentinel-row trick folding corpus stats and per-term df into
    one groupBy + broadcast + localCheckpoint; r13 removes the sentinel,
    the checkpoint, and — when the shared tokenization artifact supplies
    them — every auxiliary job):

    - per-doc term frequencies are MAP-SIDE: one ``isin`` pass shrinks
      the token array to query-term matches, then |terms| cheap counts
      over that small array; what explodes is |terms| pre-aggregated
      rows per doc, pruned to tf > 0 before any exchange (above
      ``BM25_MAX_LITERAL_TERMS`` a broadcast-semi-join explode path handles
      arbitrary vocabularies at one token-level exchange);
    - ``term_dfs`` (document frequencies for the literal query terms,
      from ``operators.tokenize.corpus_stats_and_dfs``) folds the df side to
      PLAN LITERALS — no stats groupBy, no broadcast barrier.  Without
      it, df derives from the matched rows themselves by a count over a
      term-partitioned window (matched rows are query-working-set-sized,
      so the term partitions cannot whale);
    - ``stats`` (``(n_docs, total_tokens)`` from
      ``operators.tokenize.corpus_stats_and_dfs``) folds the corpus-stat
      side to literals; without it a single-row broadcast aggregate over
      the token frame supplies them (one auxiliary corpus pass);
    - ``pretokenized`` (the ``operators.tokenize.token_corpus`` L1 frame:
      ``doc_id, toks, dl``) replaces the scan+split with a read of the
      persisted split.

    With all three artifact inputs the whole ranking is ONE job: scan
    tokens -> map match+score -> two match-list-sized exchanges (the
    (query, doc) score sum and the per-query top-k window).  Floor
    decomposition at sf0.1/local[32] (r13 re-measured): the corpus
    scan+split is ~0.1 s and per-STAGE scheduling is ~0.1-0.2 s, so the
    artifact path's ~3 tiny stages bound the latency — job-count, not
    string throughput, is the measured floor at bench scale; at sf5+ the
    data work dominates and the artifact path's saved passes are the win.

    Determinism contract (SURVEY §5.2) unchanged: exact rational idf
    (no log), per-term x1e12 quantization BEFORE the cross-term sum —
    the literal-vs-column sourcing of n_docs/df/avgdl cannot change a
    single bit because every leaf is the same integer-valued double and
    the expression tree is identical.

    Reference parity: ranking semantics per Robertson-Sparck Jones BM25
    (k1/b 1.2/0.75), the curation-search shape of SURVEY.md
    LLM-pipeline coverage."""
    spark = docs.sparkSession
    q_by_id: dict[int, list[str]] = {}
    for q, t in term_queries:
        if str(t):
            q_by_id.setdefault(int(q), []).append(str(t))
    terms = sorted({t for ts in q_by_id.values() for t in ts})
    if not terms:
        # ADVICE r12 #4: x.isin(*terms) with an empty term set throws at
        # plan build; an all-empty query bag has an exact answer — no hits
        return docs.select(
            F.lit(0).cast("long").alias("query_id"),
            F.lit(0).cast("long").alias("rank"),
            F.col("doc_id"),
            F.lit(0).cast("long").alias("n_terms_hit"),
            F.lit(0).cast("long").alias("score_scaled"),
            F.lit(0.0).alias("score"),
        ).where(F.lit(False))
    if pretokenized is not None:
        tok = pretokenized.select(
            F.col("doc_id"), F.col("toks"), F.col("dl")
        )
    else:
        ws = F.split(F.col("text"), " ")
        tok = docs.select(
            F.col("doc_id"),
            ws.alias("toks"),
            F.size(ws).cast("long").alias("dl"),
        )
    # term -> [query_id, ...] literal fanout map: replaces the broadcast
    # (query_id, term) relation of earlier rounds — no createDataFrame on
    # the driver, no BroadcastExchange, no join operator in the plan; a
    # matched row fans out to its queries by exploding a map lookup.
    # Plan size grows with |terms| like every literal here, so it shares
    # the BM25_MAX_LITERAL_TERMS gate economics (the map is query-bag-sized).
    q_of_term: dict[str, list[int]] = {}
    for q, ts in sorted(q_by_id.items()):
        for t in ts:
            q_of_term.setdefault(t, []).append(q)
    qmap = F.create_map(
        *[
            x
            for t in terms
            for x in (
                F.lit(t),
                F.array(
                    *[F.lit(q).cast("long") for q in sorted(q_of_term[t])]
                ),
            )
        ]
    )

    def _eq(t: str):
        # closure, NOT a default arg: a second lambda parameter would make
        # F.filter pass the element INDEX into it
        return lambda x: x == F.lit(t)

    if len(terms) <= BM25_MAX_LITERAL_TERMS:
        # literal map-side path: plan/codegen size and per-doc work grow
        # linearly with |terms| (one F.size(F.filter(...)) struct each),
        # so it is gated at BM25_MAX_LITERAL_TERMS (ADVICE r12 #4); above the
        # gate the explode+broadcast-semi-join path below handles
        # arbitrary vocabularies at one token-level exchange
        matched = F.filter(F.col("toks"), lambda x: x.isin(*terms))
        tf_arr = F.array(
            *[
                F.struct(
                    F.lit(t).alias("term"),
                    F.size(F.filter(F.col("__m"), _eq(t)))
                    .cast("long")
                    .alias("tf"),
                )
                for t in terms
            ]
        )
        rows = (
            tok.select("doc_id", "dl", matched.alias("__m"))
            .select("doc_id", "dl", F.explode(tf_arr).alias("__e"))
            .select(
                "doc_id",
                "dl",
                F.col("__e.term").alias("term"),
                F.col("__e.tf").alias("tf"),
            )
            .where(F.col("tf") > 0)
        )
    else:
        # join path for large vocabularies: explode tokens once, keep only
        # query-term matches via a broadcast join (Catalyst pushes the
        # join's term set as a bloom/semi filter), aggregate tf per
        # (doc, term)
        term_lit = F.broadcast(
            spark.createDataFrame([(t,) for t in terms], "term string")
        )
        rows = (
            tok.select("doc_id", "dl", F.explode("toks").alias("term"))
            .join(term_lit, "term")
            .groupBy("doc_id", "dl", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .select("doc_id", "dl", "term", "tf")
        )
    # df side: literals when the caller holds the vocabulary artifact;
    # otherwise derived from the matched rows by a term-partitioned window
    # count (rows are distinct on (doc, term), so the partition count IS
    # the document frequency — restricted to query terms, the partitions
    # are match-list-sized and cannot whale)
    if term_dfs is not None:
        df_d = F.create_map(
            *[x for t in terms for x in (F.lit(t), F.lit(int(term_dfs.get(t, 0))))]
        )[F.col("term")].cast("double")
        scored_in = rows
    else:
        w_df = Window.partitionBy("term")
        df_d = F.col("__df").cast("double")
        scored_in = rows.withColumn(
            "__df", F.count(F.lit(1)).over(w_df).cast("long")
        )
    # corpus-stat side: literals from the artifact, else one single-row
    # broadcast aggregate over the token frame (the one auxiliary pass)
    if stats is not None:
        n_docs_i, total_tokens_i = int(stats[0]), int(stats[1])
        n_docs = F.lit(float(n_docs_i))
        total_tokens = F.lit(float(total_tokens_i))
    else:
        aux = F.broadcast(
            tok.agg(
                F.count(F.lit(1)).cast("long").alias("__nd"),
                F.sum(F.coalesce(F.col("dl"), F.lit(0).cast("long")))
                .cast("long")
                .alias("__tt"),
            )
        )
        scored_in = scored_in.crossJoin(aux)
        n_docs = F.col("__nd").cast("double")
        total_tokens = F.col("__tt").cast("double")
    idf = ((n_docs - df_d) + F.lit(0.5)) / (df_d + F.lit(0.5))
    avgdl = total_tokens / n_docs
    tfd = F.col("tf").cast("double")
    tfn = (tfd * F.lit(_K1 + 1.0)) / (
        tfd
        + F.lit(_K1)
        * (F.lit(1.0 - _B) + F.lit(_B) * (F.col("dl").cast("double") / avgdl))
    )
    scored = scored_in.select(
        F.explode(qmap[F.col("term")]).alias("query_id"),
        F.col("doc_id"),
        F.round(idf * tfn * F.lit(1e12)).cast("long").alias("scaled"),
    )
    # single-exchange tail: hash-partition the match-list rows by query_id
    # ONCE — HashPartitioning(query_id) satisfies both the (query_id,
    # doc_id) aggregate's clustering (subset rule) and the top-k window's
    # partitioning, so the agg and the window share the one exchange
    # instead of shuffling twice.  Value-neutral (partitioning commutes
    # with the agg); per-query partitions are match-list-sized by
    # construction, the same bound the window already implied.
    scored = scored.repartition(F.col("query_id"))
    per_qd = scored.groupBy("query_id", "doc_id").agg(
        F.sum("scaled").cast("long").alias("score_scaled"),
        F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_scaled").desc(), F.col("doc_id")
    )
    return (
        per_qd.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "rank",
            "doc_id",
            "n_terms_hit",
            "score_scaled",
            (F.col("score_scaled").cast("double") / F.lit(1e12)).alias("score"),
        )
    )


def rrf_fuse(lex: DataFrame, dense: DataFrame) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.): full-outer merge of two
    (query_id, doc_id, rank_*) lists into each query's top ``TOP_K``,
    contributions quantized to x1e12 longs BEFORE the sum (order-free
    exact); single-list docs keep a null rank on the missing side.  Fusion
    is top-k-sized regardless of corpus size — the scale cost lives
    entirely in the two input retrievers."""
    contrib = lambda c: F.coalesce(  # noqa: E731
        F.round(F.lit(1e12) / (F.lit(RRF_K0) + F.col(c))).cast("long"),
        F.lit(0).cast("long"),
    )
    fused = lex.join(dense, ["query_id", "doc_id"], "full_outer").withColumn(
        "rrf_scaled", contrib("rank_lex") + contrib("rank_dense")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_scaled").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "rank",
            "doc_id",
            "rank_lex",
            "rank_dense",
            "rrf_scaled",
            (F.col("rrf_scaled").cast("double") / F.lit(1e12)).alias("rrf"),
        )
    )

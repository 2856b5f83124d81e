"""BM25 ranking edge cases (operators/retrieval.bm25_topk): NULL-text
docs, an empty term set, and the join fallback against the literal path."""

from __future__ import annotations

from retailfeaturestore_spark.operators import retrieval
from retailfeaturestore_spark.operators.retrieval import bm25_topk


def test_bm25_null_text_doc_still_counts_in_corpus_stats(spark):
    """Code-review r11: the sentinel row must survive a NULL-text doc —
    oracle-side n_docs is count(*), so idf/avgdl must see every document,
    matched or not, text or not."""
    from retailfeaturestore_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(1, "hash join"), (2, "scan scan scan"), (3, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bm25_topk(docs, [(0, "hash")]).collect()}
    assert set(out) == {1}
    # n_docs=3 (NULL-text doc counted), df=1, dl=2, avgdl=(2+3+0)/3
    idf = (3 - 1 + 0.5) / (1 + 0.5)
    tfn = (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * (2 / (5 / 3))))
    assert out[1].score_scaled == round(idf * tfn * 1e12)


def test_bm25_empty_term_set_returns_empty_frame(spark):
    """ADVICE r12 #4: an all-empty term bag used to throw at plan build
    (x.isin() with zero arguments); the exact answer is zero hits with
    the standard output schema."""
    docs = spark.createDataFrame(
        [(1, "hash join"), (2, "scan")], "doc_id long, text string"
    )
    out = bm25_topk(docs, [(0, ""), (1, "")])
    assert out.columns == [
        "query_id",
        "rank",
        "doc_id",
        "n_terms_hit",
        "score_scaled",
        "score",
    ]
    assert out.count() == 0
    assert dict(out.dtypes)["doc_id"] == "bigint"


def test_bm25_join_fallback_matches_literal_path(spark, monkeypatch):
    """ADVICE r12 #4: above BM25_MAX_LITERAL_TERMS the explode+broadcast-join
    path takes over; it must score identically to the literal map-side
    plan (same idf/tf quantization, same sentinel stats)."""
    docs = spark.createDataFrame(
        [
            (1, "hash join merge sort hash"),
            (2, "scan filter hash project"),
            (3, "window agg join"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    tq = [(0, "hash"), (0, "join"), (1, "scan"), (1, "agg"), (1, "merge")]
    lit_rows = sorted(tuple(r) for r in bm25_topk(docs, tq).collect())
    monkeypatch.setattr(retrieval, "BM25_MAX_LITERAL_TERMS", 2)
    join_rows = sorted(tuple(r) for r in bm25_topk(docs, tq).collect())
    assert lit_rows == join_rows and len(lit_rows) > 0

"""Shared tokenization artifact (operators/tokenize): correctness of the
layered stats against direct computation, memoization/eviction contract,
and equivalence of bm25_topk's artifact path with its self-contained path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from retailfeaturestore_spark.operators.tokenize import (
    corpus_stats_and_dfs,
    n_docs_with_tokens,
    term_postings,
    token_corpus,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="a b a c"),
            Row(doc_id=2, text="b  b"),  # double space -> empty token in dl
            Row(doc_id=3, text=""),  # one empty token (dl 1)
            Row(doc_id=4, text=None),  # null text: dl null, no postings
            Row(doc_id=5, text="c a"),
        ]
    )


def _evict(spark):
    from retailfeaturestore_spark.queries import invalidate_caches

    invalidate_caches(spark, sf_dir="mem://t")


def test_token_corpus_shapes_and_dl(spark, docs):
    _evict(spark)
    tok = {
        r["doc_id"]: r
        for r in token_corpus(spark, "mem://t", docs=docs).collect()
    }
    assert tok[1]["toks"] == ["a", "b", "a", "c"] and tok[1]["dl"] == 4
    # raw split keeps the empty token between the double space
    assert tok[2]["toks"] == ["b", "", "b"] and tok[2]["dl"] == 3
    assert tok[3]["dl"] == 1  # split("") == [""]
    assert tok[4]["toks"] is None and tok[4]["dl"] is None


def test_stats_and_postings_match_direct(spark, docs):
    _evict(spark)
    (n_docs, total), dfs = corpus_stats_and_dfs(spark, "mem://t", ("a", "c", "zz"), docs=docs)
    assert dfs == {"a": 2, "c": 2}  # absent term omitted (df 0)
    assert n_docs == 5  # null-text doc still counts
    assert total == 4 + 3 + 1 + 0 + 2
    post = {
        (r["doc_id"], r["term"]): (r["tf"], r["dl"])
        for r in term_postings(spark, "mem://t").collect()
    }
    assert post[(1, "a")] == (2, 4)
    assert post[(2, "b")] == (2, 3)
    assert (3, "") not in post  # empty terms dropped
    assert not any(d == 4 for d, _t in post)  # null text: no postings
    # document frequency = posting count per term (postings are distinct
    # on (doc, term))
    dfs = {}
    for _doc, term in post:
        dfs[term] = dfs.get(term, 0) + 1
    assert dfs == {"a": 2, "b": 2, "c": 2}
    # doc 3 is "" (only an empty token) and doc 4 is NULL -> excluded;
    # docs 1, 2, 5 qualify
    assert n_docs_with_tokens(spark, "mem://t") == 3


def test_invalidate_evicts_all_layers(spark, docs):
    from retailfeaturestore_spark.operators._cache import session_memo
    from retailfeaturestore_spark.queries import invalidate_caches

    _evict(spark)
    corpus_stats_and_dfs(spark, "mem://t", ("a",), docs=docs)
    term_postings(spark, "mem://t")
    memo = session_memo(spark)
    assert any(k[1] == "mem://t" for k in memo)
    reg = spark._rfs_persisted
    assert ("token_corpus", "mem://t") in reg
    assert ("term_postings", "mem://t") in reg
    invalidate_caches(spark, sf_dir="mem://t")
    assert not any(k[1] == "mem://t" for k in memo)
    assert ("token_corpus", "mem://t") not in spark._rfs_persisted


def test_bm25_artifact_path_equals_self_contained(spark):
    """The artifact-literal plan and the self-contained (window-df +
    broadcast-stats) plan must produce IDENTICAL rankings and scores on
    the real documents table."""
    from retailfeaturestore_spark.io import load_table
    from retailfeaturestore_spark.operators.retrieval import bm25_topk
    from retailfeaturestore_spark.queries import invalidate_caches

    invalidate_caches(spark, sf_dir=SF)
    docs = load_table(spark, SF, "documents")
    qt = [(0, "hash"), (0, "join"), (1, "dup"), (1, "nosuchterm")]
    plain = bm25_topk(docs, qt).collect()
    terms = ("hash", "join", "dup", "nosuchterm")
    stats, dfs = corpus_stats_and_dfs(spark, SF, terms, docs=docs)
    art = bm25_topk(
        docs,
        qt,
        pretokenized=token_corpus(spark, SF, docs=docs),
        stats=stats,
        term_dfs=dfs,
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(map(tuple, plain), key=lambda t: (t[0], t[1])) == sorted(
        map(tuple, art), key=lambda t: (t[0], t[1])
    )
    assert len(art) > 0


def test_bm25_join_path_equals_literal_path(spark, monkeypatch):
    """Forcing the large-vocabulary join path (BM25_MAX_LITERAL_TERMS=0) must
    not change a single row vs the literal map-side path."""
    from retailfeaturestore_spark.io import load_table
    from retailfeaturestore_spark.operators import retrieval
    from retailfeaturestore_spark.operators.retrieval import bm25_topk

    docs = load_table(spark, SF, "documents")
    qt = [(0, "hash"), (0, "join"), (1, "dup")]
    lit_rows = bm25_topk(docs, qt).collect()
    monkeypatch.setattr(retrieval, "BM25_MAX_LITERAL_TERMS", 0)
    join_rows = bm25_topk(docs, qt).collect()
    assert sorted(map(tuple, lit_rows)) == sorted(map(tuple, join_rows))

"""Boilerplate passage scrub + BM25 retrieval semantics.

The registered queries also run under the DuckDB differential
(tools/check_oracle.py); these tests pin the operator-level contracts the
oracle cannot express alone — ordering preservation, distinct-doc (not
occurrence) frequency, and a from-scratch python BM25 replay.
"""

from __future__ import annotations

import math
from collections import Counter

import pytest

from retailfeaturestore_spark.operators import textops
from retailfeaturestore_spark.operators.textops import boilerplate_scrub

from conftest import TESTDATA_SF, requires_testdata


@pytest.fixture
def four_token_passages(monkeypatch):
    """Four-word passages, so a few short documents share whole passages."""
    monkeypatch.setattr(textops, "PASSAGE_TOKENS", 4)


def docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_boilerplate_scrub_removes_cross_doc_passages(spark, four_token_passages):
    d = docs(
        spark,
        [
            (1, "a b c d e f g h"),
            (2, "a b c d x y z w"),
            (3, "p q r s"),
            (4, "m m m m a b c d t t t t"),
        ],
    )
    out = {
        r.doc_id: r
        for r in boilerplate_scrub(d).collect()
    }
    # "a b c d" appears in docs 1, 2 and 4 -> boilerplate everywhere.
    assert out[1].clean_text == "e f g h"
    assert out[1].n_passages == 2 and out[1].n_removed == 1
    assert out[1].removed_tokens == 4
    assert out[2].clean_text == "x y z w"
    # unique doc untouched
    assert out[3].clean_text == "p q r s" and out[3].n_removed == 0
    # kept passages preserve original order around the removed middle one
    assert out[4].clean_text == "m m m m t t t t"


def test_boilerplate_scrub_doc_frequency_is_distinct_docs(spark, four_token_passages):
    # the same passage twice in ONE document is df=1 -> kept both times
    d = docs(spark, [(1, "a b c d a b c d"), (2, "z z z z")])
    out = {
        r.doc_id: r
        for r in boilerplate_scrub(d).collect()
    }
    assert out[1].clean_text == "a b c d a b c d"
    assert out[1].n_removed == 0


def test_boilerplate_scrub_all_removed_yields_empty_string(spark, four_token_passages):
    d = docs(spark, [(1, "a b c d"), (2, "a b c d")])
    out = {
        r.doc_id: r
        for r in boilerplate_scrub(d).collect()
    }
    assert out[1].clean_text == "" and out[2].clean_text == ""
    assert out[1].n_removed == 1 and out[1].removed_tokens == 4


def test_boilerplate_scrub_tail_partial_passage(spark, four_token_passages):
    # 6 tokens in 4-word passages -> passages of 4 and 2; the shared
    # SHORT tail is still counted and removable.
    d = docs(spark, [(1, "u1 u2 u3 u4 e f"), (2, "v1 v2 v3 v4 e f")])
    out = {
        r.doc_id: r
        for r in boilerplate_scrub(d).collect()
    }
    assert out[1].clean_text == "u1 u2 u3 u4"
    assert out[1].removed_tokens == 2


def _bm25_python(rows, query_terms, k1=1.2, b=0.75):
    """Independent replay of the registered query's quantized scoring."""
    n_docs = len(rows)
    dls = {doc_id: len(text.split(" ")) for doc_id, text in rows}
    total_tokens = sum(dls.values())
    avgdl = float(total_tokens) / float(n_docs)
    tf = {}
    for doc_id, text in rows:
        for t, c in Counter(w for w in text.split(" ") if w).items():
            tf[(doc_id, t)] = c
    df = Counter(t for (_, t) in tf)
    scaled = Counter()
    hits = Counter()
    for (doc_id, t), c in tf.items():
        for qid, qt in query_terms:
            if qt != t:
                continue
            idf = (float(n_docs - df[t]) + 0.5) / (float(df[t]) + 0.5)
            tfn = (float(c) * 2.2) / (
                float(c) + 1.2 * (0.25 + 0.75 * (float(dls[doc_id]) / avgdl))
            )
            # round-half-away-from-zero, matching Spark F.round HALF_UP
            x = idf * tfn * 1e12
            scaled[(qid, doc_id)] += int(math.floor(x + 0.5))
            hits[(qid, doc_id)] += 1
    out = {}
    for qid in sorted({q for q, _ in query_terms}):
        ranked = sorted(
            ((s, d) for (q, d), s in scaled.items() if q == qid),
            key=lambda p: (-p[0], p[1]),
        )[:10]
        out[qid] = [(d, s, hits[(qid, d)]) for s, d in ranked]
    return out


@requires_testdata
def test_bm25_matches_python_replay_on_testdata(spark):
    import pandas as pd

    from retailfeaturestore_spark.queries import REGISTRY, _BM25_QUERY_TERMS

    got = REGISTRY["bm25_retrieval"].fn(spark, TESTDATA_SF).collect()
    pdf = pd.read_parquet(f"{TESTDATA_SF}/documents.parquet")
    exp = _bm25_python(
        list(zip(pdf["doc_id"], pdf["text"])), list(_BM25_QUERY_TERMS)
    )
    by_q = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(
            (r.doc_id, r.score_scaled, r.n_terms_hit)
        )
        assert r.score == pytest.approx(r.score_scaled / 1e12)
    assert by_q == exp
    for qid, ranked in by_q.items():
        scores = [s for _, s, _ in ranked]
        assert scores == sorted(scores, reverse=True)

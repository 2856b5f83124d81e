"""Text analysis + multimodal plumbing semantics."""

from __future__ import annotations

from retailfeaturestore_spark.operators.multimodal import attach_payload, payload_meta
from retailfeaturestore_spark.operators import textops
from retailfeaturestore_spark.operators.textops import (
    chunk_documents,
    lang_id,
    text_quality,
    token_counts,
)


def docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lang_id_markers_and_tie_precedence(spark):
    d = docs(
        spark,
        [
            (1, "the cat and the dog of a house"),   # en
            (2, "der hund und die katze und das"),   # de
            (3, "xxxx yyyy zzzz"),                   # no markers -> und
            (4, "la la"),                            # es/fr tie -> es (precedence)
        ],
    )
    out = {r.doc_id: r.lang_pred for r in lang_id(d).collect()}
    assert out == {1: "en", 2: "de", 3: "und", 4: "es"}


def test_quality_score_bounds_and_empty_doc(spark):
    d = docs(spark, [(1, "the " * 30 + "end"), (2, "")])
    out = {r.doc_id: r for r in text_quality(d).collect()}
    assert 0.0 <= out[1].quality_score <= 1.0
    assert out[2].quality_score >= 0.0  # guarded denominator, no null/inf


def test_chunk_documents_overlap_and_tail(spark, monkeypatch):
    """32/24-style overlap windowing at toy scale: every token covered,
    consecutive chunks share chunk-stride tokens, trailing partial chunks
    emitted, one-token docs yield one chunk."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x")], "doc_id long, text string"
    )
    monkeypatch.setattr(textops, "CHUNK_TOKENS", 4)
    monkeypatch.setattr(textops, "CHUNK_STRIDE", 2)
    out = chunk_documents(docs)
    by = {(r.doc_id, r.chunk_id): (r.chunk_text, r.n_tokens) for r in out.collect()}
    assert by[(1, 0)] == ("a b c d", 4)
    assert by[(1, 1)] == ("c d e f", 4)   # overlap: shares c,d with chunk 0
    assert by[(1, 2)] == ("e f g", 3)     # trailing partial
    assert by[(1, 3)] == ("g", 1)
    assert by[(2, 0)] == ("x", 1)
    assert len(by) == 5


def test_token_counts(spark):
    d = docs(spark, [(1, "abcd efgh12345")])
    r = token_counts(d).collect()[0]
    assert r.n_ws_tokens == 2
    assert r.n_subword_est == 1 + 3  # ceil(4/4) + ceil(9/4)


def test_multimodal_payload_roundtrip(spark):
    d = attach_payload(docs(spark, [(1, "hello world"), (2, "spark")]))
    meta = {r.doc_id: r for r in payload_meta(d).collect()}
    assert meta[1].n_bytes == 11 and meta[1].mime == "text/plain"


def test_pii_scrub_kinds_order_and_counts(spark):
    """Emails, spaced/dashed phones, and IPv4 literals scrub to typed
    placeholders with audit counts; the phone separators exclude '.' so
    dotted quads (incl. 3-digit middle octets) always classify as <IP>;
    clean text stays untouched."""
    from retailfeaturestore_spark.operators.textops import pii_scrub

    rows = [
        (1, "ask jo.doe+x@corp.io or b@x.org today"),
        (2, "call +1 555 123 4567 or 44-555-321-99 now"),
        (3, "host 192.168.0.1 and 10.0.255.254 up"),
        (4, "clean text with no identifiers at all"),
        (5, "gateway 192.168.100.12 pinged"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in pii_scrub(d).collect()}
    assert out[1].clean_text == "ask <EMAIL> or <EMAIL> today"
    assert (out[1].n_email, out[1].n_phone, out[1].n_ipv4) == (2, 0, 0)
    assert out[2].clean_text == "call <PHONE> or <PHONE> now"
    assert out[2].n_phone == 2
    assert out[3].clean_text == "host <IP> and <IP> up"
    assert out[3].n_ipv4 == 2
    assert out[4].clean_text == rows[3][1]
    assert (out[4].n_email, out[4].n_phone, out[4].n_ipv4) == (0, 0, 0)
    # 3-digit middle octets must NOT be eaten by the phone rule
    assert out[5].clean_text == "gateway <IP> pinged"
    assert (out[5].n_phone, out[5].n_ipv4) == (0, 1)


def test_bpe_learn_and_encode_classic_fixture():
    """Hand-verifiable BPE on the canonical low/lower/newest/widest corpus
    (Sennrich et al. ACL 2016, fig. 1 shape): merge order and encodings
    are deterministic and exactly the classic result."""
    from retailfeaturestore_spark.functions.bpe import (
        END_OF_WORD,
        encode_word,
        learn_bpe,
    )

    wc = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = learn_bpe(wc, 4)
    # counts: ('e','s')=9, ('s','t')=9, ('t','</w>')=9, ... tie broken
    # lexicographically -> ('e','s') first, then ('es','t'), ('est','</w>'),
    # then ('l','o')=7
    assert merges == [
        ("e", "s"),
        ("es", "t"),
        ("est", END_OF_WORD),
        ("l", "o"),
    ]
    ranks = {p: i for i, p in enumerate(merges)}
    assert encode_word("newest", ranks) == ["n", "e", "w", "est</w>"]
    assert encode_word("lowest", ranks) == ["lo", "w", "est</w>"]
    assert encode_word("low", ranks) == ["lo", "w", END_OF_WORD]
    # unseen symbols pass through untouched
    assert encode_word("xyz", ranks) == ["x", "y", "z", END_OF_WORD]


def test_bpe_token_count_distributed_equals_python_replay(spark):
    """The registry query's distributed path (frozen-merge-table
    broadcast-ranks pandas UDF, r13) must equal a pure-Python replay of
    merge LEARNING + encoding over the same corpus — this both verifies
    the distributed encode and pins the provenance of the frozen table:
    training on this corpus with the documented parameters produces
    exactly queries._BPE_FROZEN_MERGES."""
    from retailfeaturestore_spark.functions.bpe import encode_word, learn_bpe
    from retailfeaturestore_spark.io import load_table
    from retailfeaturestore_spark.queries import _BPE_FROZEN_MERGES, REGISTRY

    sf = "/root/testdata/sf0.001"
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in REGISTRY["bpe_token_count"].fn(spark, sf).collect()
    }

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf, "documents").select("doc_id", "text").collect()
    }
    from collections import Counter

    wc = Counter()
    for t in docs.values():
        for w in (t or "").split(" "):
            if w:
                wc[w] += 1
    vocab = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:4000]
    learned = learn_bpe(vocab, 40)
    # provenance pin: the frozen table the query (and its SQL oracle)
    # ship IS what training on this corpus produces
    assert tuple(learned) == _BPE_FROZEN_MERGES
    ranks = {p: i for i, p in enumerate(learned)}
    assert len(got) == len(docs)
    nontrivial = 0
    for doc_id, text in docs.items():
        words = [w for w in (text or "").split(" ") if w]
        want = sum(len(encode_word(w, ranks)) for w in words)
        assert got[doc_id] == (len(words), want), doc_id
        if want > len(words):
            nontrivial += 1
    # the statistic must be non-degenerate: BPE tokens != word count
    assert nontrivial > len(docs) // 2

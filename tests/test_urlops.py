"""URL canonicalization / registrable-domain / mixture-weight operators
(operators/urlops.py — the r11 crawl-curation stage).  The differential
oracles cover the corpus-scale shapes; these pin the edge cases the
synthetic corpus never produces.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from retailfeaturestore_spark.operators import urlops
from retailfeaturestore_spark.operators.urlops import (
    canonical_url,
    domain_mixture_weights,
    registrable_domain,
    url_dedup,
    url_host,
)


def _one_col(spark, values, name="u"):
    return spark.createDataFrame([(v,) for v in values], f"{name} string")


def _apply(spark, fn, values):
    df = _one_col(spark, values).select(fn(F.col("u")).alias("out"))
    return [r.out for r in df.collect()]


def test_canonical_url_edge_cases(spark):
    cases = {
        # tracking params: mid, trailing, only-param
        "https://X.com/a?utm_source=1&id=2": "https://x.com/a?id=2",
        "https://x.com/a?id=2&utm_medium=m": "https://x.com/a?id=2",
        "https://x.com/a?utm_source=1": "https://x.com/a",
        # fragment, default ports (mid and END of url), http:80
        "https://x.com/a#frag": "https://x.com/a",
        "https://x.com:443/a": "https://x.com/a",
        "https://x.com:443": "https://x.com",
        "http://x.com:80/a": "http://x.com/a",
        "http://x.com:80": "http://x.com",
        # NON-default port survives
        "https://x.com:8443/a": "https://x.com:8443/a",
        # trailing slashes (root and deep), dangling separators
        "https://x.com/": "https://x.com",
        "https://x.com/a/b///": "https://x.com/a/b",
        "https://x.com/a?": "https://x.com/a",
        # case + whitespace
        "  HTTPS://WWW.X.COM/A  ": "https://www.x.com/a",
        # query-param order is not semantic: params sort
        "https://x.com/a?b=2&a=1": "https://x.com/a?a=1&b=2",
        "https://x.com/a?b=2&utm_x=9&a=1": "https://x.com/a?a=1&b=2",
        # pre-query slash collapses; consecutive leading utm params strip;
        # a param merely NAMED '*utm_*' survives intact
        "https://x.com/a/?id=1": "https://x.com/a?id=1",
        "https://x.com/a?utm_a=1&utm_b=2&id=3": "https://x.com/a?id=3",
        "https://x.com/a?p=1&myutm_b=2&c=3": "https://x.com/a?c=3&myutm_b=2&p=1",
    }
    got = _apply(spark, canonical_url, list(cases))
    assert got == list(cases.values())


def test_registrable_domain_psl_logic(spark):
    cases = {
        "www.example.com": "example.com",
        "a.b.example.co.uk": "example.co.uk",
        "user.github.io": "user.github.io",
        "www.user.github.io": "user.github.io",
        "example.com.au": "example.com.au",
        # bare 1-label host and a host that IS a suffix pass through
        "localhost": "localhost",
        "co.uk": "co.uk",
    }
    got = _apply(spark, registrable_domain, list(cases))
    assert got == list(cases.values())


def test_url_host_extracts_and_rejects(spark):
    cases = {
        "https://x.com/a": "x.com",
        "https://x.com:8443/a": "x.com",
        "not a url": "",
    }
    got = _apply(spark, url_host, list(cases))
    assert got == list(cases.values())


def test_url_dedup_keep_rule_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "https://x.com/a?utm_source=s1"),
            (7, "https://X.com/a#f"),
            (3, "https://x.com/a"),
            (9, "https://y.co.uk/b/"),
        ],
        "doc_id long, url string",
    )
    out = {
        (r.canonical_url, r.keep_doc_id, r.n_dupes, r.registrable_domain)
        for r in url_dedup(df, "url").collect()
    }
    assert out == {
        ("https://x.com/a", 1, 3, "x.com"),
        ("https://y.co.uk/b", 9, 1, "y.co.uk"),
    }


def test_domain_mixture_weights_integer_exact_cap(spark, monkeypatch):
    per_dom = spark.createDataFrame(
        [("whale.com", 900), ("a.com", 60), ("b.com", 40)],
        "registrable_domain string, tokens long",
    )
    monkeypatch.setattr(urlops, "MIX_CAP", 0.10)
    out = {
        r.registrable_domain: (r.tokens, r.raw_share, r.mix_weight)
        for r in domain_mixture_weights(per_dom, "tokens").collect()
    }
    # total=1000, cap_w=floor(0.10*1000)=100; capped: 100/60/40, ctot=200
    assert out["whale.com"] == (900, 0.9, 0.5)
    assert out["a.com"] == (60, 0.06, 0.3)
    assert out["b.com"] == (40, 0.04, 0.2)


def test_url_screen_flag_semantics(spark, monkeypatch):
    """The three screen flags must honor their scoping rules: domain
    blocks catch SUBDOMAINS (eTLD+1 match), path terms never match the
    HOST, and the digit cut is integer-exact at the boundary."""
    from pyspark.sql import Row

    from retailfeaturestore_spark.operators.urlops import url_screen

    rows = [
        # subdomain of a blocked registrable domain -> caught
        Row(id=1, url="https://cdn.bad.com/x"),
        # innocent domain whose NAME contains a blocked path term ->
        # must NOT trip the path flag (host is out of scope for it)
        Row(id=2, url="https://casino.example.com/clean"),
        # blocked term in the path -> caught
        Row(id=3, url="https://ok.com/casino/page"),
        # blocked term in the query -> caught
        Row(id=4, url="https://ok.com/p?ref=casino"),
        # digit boundary: host alnum 'a1com'=5, digits 1 -> 20% == cut:
        # strict > means NO flag at exactly the threshold
        Row(id=5, url="https://a1.com/x"),
        # 'h37com'=6 alnum, 2 digits -> 33% > 20 -> flagged
        Row(id=6, url="https://h37.com/x"),
        Row(id=7, url="https://clean.org/x"),
    ]
    monkeypatch.setattr(urlops, "BLOCKED_DOMAINS", ("bad.com",))
    monkeypatch.setattr(urlops, "BLOCKED_PATH_TERMS", ("casino",))
    monkeypatch.setattr(urlops, "MAX_HOST_DIGIT_PCT", 20)
    out = {r.id: r for r in url_screen(spark.createDataFrame(rows), "url").collect()}
    assert out[1].flag_blocked_domain == 1 and out[1].registrable_domain == "bad.com"
    assert out[2].flag_path_term == 0 and out[2].url_ok == 1
    assert out[3].flag_path_term == 1 and out[3].url_ok == 0
    assert out[4].flag_path_term == 1
    assert out[5].flag_digit_host == 0 and out[5].url_ok == 1
    assert out[6].flag_digit_host == 1
    assert out[7].url_ok == 1


def test_url_screen_path_terms_are_literal(spark, monkeypatch):
    """Blocked path terms are LITERAL strings (r12 advice): a term with
    regex metacharacters ('c++', 'a.b', an unbalanced '(') must neither
    throw at plan time nor widen the match — '.' matches only a dot."""
    from pyspark.sql import Row

    from retailfeaturestore_spark.operators.urlops import url_screen

    rows = [
        Row(id=1, url="https://ok.com/docs/c++/intro"),   # literal hit
        Row(id=2, url="https://ok.com/docs/cxx/intro"),   # 'c++' != 'cxx'
        Row(id=3, url="https://ok.com/x?q=a.b"),          # literal dot hit
        Row(id=4, url="https://ok.com/x?q=aXb"),          # '.' must not match X
        Row(id=5, url="https://ok.com/f(1)/y"),           # unbalanced-paren term
        Row(id=6, url="https://ok.com/clean"),
    ]
    monkeypatch.setattr(urlops, "BLOCKED_PATH_TERMS", ("c++", "a.b", "f("))
    out = {
        r.id: r.flag_path_term
        for r in url_screen(spark.createDataFrame(rows), "url").collect()
    }
    assert out == {1: 1, 2: 0, 3: 1, 4: 0, 5: 1, 6: 0}

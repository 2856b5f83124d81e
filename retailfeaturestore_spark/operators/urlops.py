"""URL canonicalization, registrable-domain (eTLD+1) extraction, URL-level
dedup, and per-domain quality/mixture aggregation — the standard
pretraining-corpus curation stage between raw crawl ingestion and content
dedup (CCNet/RefinedWeb/Dolma all gate on it: one canonical URL keeps one
document, and no single registrable domain may dominate the token mix).

Everything here is pure JVM Column algebra (regexp + conditional
expressions — no UDF, no shuffle beyond the aggregations the consumer
asks for), so it runs inside whole-stage codegen at crawl scale:

- :func:`canonical_url` — deterministic URL normal form: lowercase, strip
  fragment, strip ``utm_*`` tracking params (mid-query and trailing),
  strip default ports (https:443 / http:80), strip trailing slashes and
  dangling separators.  Two crawls of the same page with different
  tracking decorations collapse to one key.
- :func:`url_host` — host component of a canonical URL.
- :func:`registrable_domain` — eTLD+1 against a bundled public-suffix
  subset (the multi-label entries that change the answer: co.uk,
  github.io, ...).  A production deployment swaps the literal tuple for
  the full Mozilla PSL (also public data) — same expression shape, the
  list is a broadcast-sized constant either way.
- :func:`url_dedup` — one surviving doc per canonical URL (deterministic
  keep rule: smallest id), with the duplicate count carried for lineage.
- :func:`domain_mixture_weights` — per-domain share of a weight column
  (tokens), capped at ``MIX_CAP`` and renormalized: the mixture-sampler input
  that stops a whale domain from dominating the training mix.

Reference parity: the reference has no crawl-curation surface at all
(775 lines of single-process pandas over retail rows) — this extends the
LLM-pipeline family (SURVEY §6 extension operators) with the curation
stage the rest of the dedup suite assumes has already run.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "PSL_MULTI_LABEL",
    "url_screen",
    "canonical_url",
    "url_host",
    "registrable_domain",
    "url_dedup",
    "domain_mixture_weights",
]

# Multi-label public suffixes (subset of the Mozilla PSL — public data);
# any host whose last TWO labels match one of these takes THREE labels as
# its registrable domain.  Single-label suffixes (com, org, ...) need no
# listing: the default two-label rule covers them.
PSL_MULTI_LABEL: tuple[str, ...] = (
    "co.uk",
    "org.uk",
    "ac.uk",
    "gov.uk",
    "com.au",
    "net.au",
    "org.au",
    "co.jp",
    "or.jp",
    "ne.jp",
    "co.in",
    "co.kr",
    "com.br",
    "com.cn",
    "com.mx",
    "com.tr",
    "github.io",
    "gitlab.io",
    "blogspot.com",
    "web.app",
)


def canonical_url(url: Column) -> Column:
    """Deterministic canonical form of ``url`` (see module docstring).
    Pure regexp pipeline — the same steps, in the same order, as the
    DuckDB oracle twin, so the normal form is engine-exact."""
    u = F.lower(F.trim(url))
    # 1. fragment never reaches the server
    u = F.regexp_replace(u, r"#.*$", "")
    # 2. tracking params — anchored on the preceding separator so a param
    # NAMED '*utm_*' (e.g. 'myutm_b') is never corrupted: first every
    # '&utm_...' (any position after the first param), then a LEADING
    # '?utm_...' (followed by more params, or alone)
    u = F.regexp_replace(u, r"&utm_[a-z]+=[^&#]*", "")
    u = F.regexp_replace(u, r"\?utm_[a-z]+=[^&#]*&", "?")
    u = F.regexp_replace(u, r"\?utm_[a-z]+=[^&#]*$", "")
    # 3. dangling separators a stripped param can leave behind
    u = F.regexp_replace(u, r"[?&]+$", "")
    # 4. default ports
    u = F.regexp_replace(u, r"^(https://[^/:?#]+):443([/?#])", r"$1$2")
    u = F.regexp_replace(u, r"^(https://[^/:?#]+):443$", r"$1")
    u = F.regexp_replace(u, r"^(http://[^/:?#]+):80([/?#])", r"$1$2")
    u = F.regexp_replace(u, r"^(http://[^/:?#]+):80$", r"$1")
    # 5. trailing slash(es) — at end of URL AND at end of PATH (before a
    # query): '/a/?id=1' and '/a?id=1' are the same resource
    u = F.regexp_replace(u, r"/+(\?|$)", r"$1")
    # 6. query-param ORDER is not semantic: '?a=1&b=2' and '?b=2&a=1' are
    # the same request — sort the params so both collapse to one key
    base = F.regexp_replace(u, r"\?.*$", "")
    q = F.regexp_extract(u, r"\?(.*)$", 1)
    return F.when(
        q != "",
        F.concat(base, F.lit("?"), F.array_join(F.array_sort(F.split(q, "&")), "&")),
    ).otherwise(u)


def url_host(url: Column) -> Column:
    """Host component of a (canonical) URL — empty string when the value
    has no scheme://host shape."""
    return F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)


def registrable_domain(host: Column) -> Column:
    """eTLD+1 of ``host``: three labels when the last two are a listed
    multi-label public suffix, else two labels; a bare 1-label host (or a
    host that IS a suffix) passes through unchanged."""
    last2 = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    last3 = F.regexp_extract(host, r"([^.]+\.[^.]+\.[^.]+)$", 1)
    return F.when(
        last2.isin(*PSL_MULTI_LABEL) & (last3 != ""), last3
    ).otherwise(F.when(last2 != "", last2).otherwise(host))


def url_dedup(df: DataFrame, url_col: str) -> DataFrame:
    """One row per canonical URL: the surviving ``keep_doc_id`` (the
    smallest id — deterministic, engine-independent), the duplicate count,
    and the registrable domain.  One hash aggregation on the canonical
    key; the canonicalization itself is map-side codegen."""
    canon = canonical_url(F.col(url_col))
    return (
        df.select(
            canon.alias("canonical_url"), F.col("doc_id").cast("long").alias("__id")
        )
        .groupBy("canonical_url")
        .agg(
            F.min("__id").alias("keep_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_dupes"),
        )
        .withColumn(
            "registrable_domain", registrable_domain(url_host(F.col("canonical_url")))
        )
    )


# the largest share of the total weight one domain keeps in the mixture
MIX_CAP = 0.05


def domain_mixture_weights(per_domain: DataFrame, weight_col: str) -> DataFrame:
    """Append ``raw_share`` (= weight / total) and ``mix_weight`` (weight
    capped at ``MIX_CAP`` of the total, renormalized over the capped mass) to
    a per-domain aggregate — the sampling distribution a
    temperature/budget mixture stage consumes.  ``weight_col`` must be
    INTEGRAL (token counts): the cap is applied in weight units
    (``cap_w = floor(MIX_CAP * total)``, computed in DECIMAL so the floor
    boundary matches an exact-arithmetic oracle) so every sum stays an
    exact long and
    each output share is ONE exact-input IEEE division — float summation
    order can never skew the mix or the differential hash.  Two broadcast
    singleton aggregates over an already-domain-sized frame:
    control-plane arithmetic, not a data-scale shuffle.  The input
    aggregate is lazily ``localCheckpoint``-ed first: each broadcast
    singleton branch would otherwise re-execute the whole upstream
    corpus pipeline (plan-audited: 3 corpus scans became 1)."""
    per_domain = per_domain.localCheckpoint(eager=False)
    total = per_domain.agg(F.sum(F.col(weight_col)).alias("__tot"))
    # the cap itself computes in DECIMAL, matching DuckDB's exact
    # floor(0.05 * tot) — a double 0.05 * tot can floor to a different
    # long when cap*total lands on an integer boundary (ADVICE r12 #2);
    # str(cap) carries the literal's exact decimal digits
    cap_dec = Decimal(str(MIX_CAP))
    with_tot = per_domain.crossJoin(F.broadcast(total)).withColumn(
        "__capped",
        F.least(
            F.col(weight_col),
            F.floor(
                F.col("__tot").cast("decimal(32,0)") * F.lit(cap_dec)
            ).cast("long"),
        ),
    )
    capped_total = with_tot.agg(F.sum("__capped").alias("__ctot"))
    return (
        with_tot.crossJoin(F.broadcast(capped_total))
        .withColumn(
            "raw_share",
            F.col(weight_col).cast("double") / F.col("__tot").cast("double"),
        )
        .withColumn(
            "mix_weight",
            F.col("__capped").cast("double") / F.col("__ctot").cast("double"),
        )
        .drop("__tot", "__capped", "__ctot")
    )


# url_screen's lists and digit cut: blocked registrable domains, blocked
# LITERAL path/query terms, and the largest digit share (percent) of a
# host's alphanumerics that passes
BLOCKED_DOMAINS: tuple[str, ...] = ("h10.com", "h21.co.uk", "h13.github.io")
BLOCKED_PATH_TERMS: tuple[str, ...] = ("/p/13", "id=7")
MAX_HOST_DIGIT_PCT = 25


def url_screen(df: DataFrame, url_col: str) -> DataFrame:
    """URL-level admission screen — the curation gate crawl pipelines run
    BEFORE fetching or keeping content (RefinedWeb runs exactly this
    trio; CCNet/Dolma variants differ only in list contents):

    - ``flag_blocked_domain``: the registrable domain (eTLD+1) is on
      ``BLOCKED_DOMAINS`` — domain-level, so every subdomain of a listed domain is
      caught without listing them;
    - ``flag_path_term``: a ``BLOCKED_PATH_TERMS`` term appears in the PATH or QUERY
      (never matched against the host, where an innocent domain name
      could contain a blocked substring);
    - ``flag_digit_host``: more than ``MAX_HOST_DIGIT_PCT`` percent of
      the host's alphanumeric characters are digits (machine-generated
      spam-farm hosts; threshold compares as integers,
      ``100 * digits > pct * alnum``, so the cut is engine-exact);
    - ``url_ok``: none of the flags fired.

    Appends the canonical URL, host, registrable domain, the three flags
    (int 0/1) and ``url_ok`` to ``df``.  Pure map-side Column algebra
    (regexp + conditionals inside whole-stage codegen): zero exchanges,
    zero UDFs — the screen runs at crawl scale as a filter pushed over
    the URL column alone, and both lists are plan literals
    (broadcast-sized constants, same deployment shape as the PSL
    subset)."""
    canon = canonical_url(F.col(url_col))
    host = url_host(canon)
    dom = registrable_domain(host)
    path_q = F.regexp_replace(canon, r"^[a-z][a-z0-9+.-]*://[^/]*", "")
    f_dom = dom.isin(*BLOCKED_DOMAINS).cast("int")
    # terms are LITERAL strings (per the contract above) — escape each
    # alternative so a term like 'c++' or one containing '(' or '.'
    # neither throws at plan time nor silently widens the match (r12
    # advice finding).  re.escape output is Java-regex compatible
    # (backslash-escaped punctuation only).
    import re as _re

    pat = "(" + "|".join(_re.escape(t) for t in BLOCKED_PATH_TERMS) + ")"
    f_path = (F.regexp_count(path_q, F.lit(pat)) > 0).cast("int")
    digits = F.length(F.regexp_replace(host, r"[^0-9]", ""))
    alnum = F.length(F.regexp_replace(host, r"[^a-z0-9]", ""))
    f_digit = (
        (alnum > 0)
        & (digits * F.lit(100) > alnum * F.lit(MAX_HOST_DIGIT_PCT))
    ).cast("int")
    return (
        df.withColumn("canonical_url", canon)
        .withColumn("host", host)
        .withColumn("registrable_domain", dom)
        .withColumn("flag_blocked_domain", f_dom)
        .withColumn("flag_path_term", f_path)
        .withColumn("flag_digit_host", f_digit)
        .withColumn(
            "url_ok",
            (
                (F.col("flag_blocked_domain") == 0)
                & (F.col("flag_path_term") == 0)
                & (F.col("flag_digit_host") == 0)
            ).cast("int"),
        )
    )

"""Text-analysis operators for training-data pipelines (extension surface):
language ID, quality scoring, token counting, document fingerprinting.

All pure Column expressions (codegen, no UDFs); arithmetic restricted to
integer counts and single IEEE divisions so the DuckDB oracle matches
bit-for-bit (no transcendentals, no float reductions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import shingles, words

__all__ = [
    "LANG_MARKERS",
    "lang_id",
    "text_quality",
    "token_counts",
    "doc_fingerprint",
    "gopher_quality",
    "boilerplate_scrub",
]

# Tiny stopword marker sets per language (heuristic n-gram/stopword lang-ID;
# extend per corpus).  Precedence order breaks score ties deterministically.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "zu"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "et", "les", "des"),
}
LANG_PRECEDENCE = ("en", "de", "es", "fr")


def _marker_count(ws: Column, markers: tuple[str, ...]) -> Column:
    in_set = F.filter(ws, lambda w: w.isin(*markers))
    return F.size(in_set).cast("long")


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-marker language ID: per language, count marker tokens; argmax
    with fixed precedence on ties; 'und' (undetermined) when all zero."""
    ws = words(F.col("text"))
    counted = docs.select(
        F.col("doc_id"),
        F.size(ws).cast("long").alias("n_tokens"),
        *[
            _marker_count(ws, m).alias(f"score_{lang}")
            for lang, m in LANG_MARKERS.items()
        ],
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_MARKERS])
    pred = F.lit("und")
    # reverse precedence: earlier languages override on equal scores
    for lang in reversed(LANG_PRECEDENCE):
        pred = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return counted.withColumn("lang_pred", pred).withColumn(
        "lang_score",
        best.cast("double")
        / F.when(F.col("n_tokens") > 0, F.col("n_tokens")).otherwise(F.lit(1)).cast("double"),
    )


def text_quality(docs: DataFrame) -> DataFrame:
    """Heuristic quality score from length/stopword/uniqueness ratios.

    quality = clip(0.2*len_ok + 0.4*stopword_ratio_capped + 0.4*uniq_ratio)
    — a linear blend of integer-count ratios (engine-exact arithmetic).
    """
    ws = words(F.col("text"))
    en = LANG_MARKERS["en"]
    d = docs.select(
        F.col("doc_id"),
        F.length("text").cast("long").alias("n_chars"),
        F.size(ws).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_unique_tokens"),
        _marker_count(ws, en).alias("n_stopwords"),
    )
    denom = F.when(F.col("n_tokens") > 0, F.col("n_tokens")).otherwise(F.lit(1)).cast("double")
    stop_ratio = F.col("n_stopwords").cast("double") / denom
    uniq_ratio = F.col("n_unique_tokens").cast("double") / denom
    len_ok = F.when((F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 200), F.lit(1.0)).otherwise(F.lit(0.0))
    raw = (
        F.lit(0.2) * len_ok
        + F.lit(0.4) * F.least(stop_ratio * F.lit(4.0), F.lit(1.0))
        + F.lit(0.4) * uniq_ratio
    )
    return d.withColumns(
        {
            "stopword_ratio": stop_ratio,
            "unique_ratio": uniq_ratio,
            "quality_score": F.least(F.greatest(raw, F.lit(0.0)), F.lit(1.0)),
        }
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate
    (ceil(len(word)/4) per word, integer arithmetic — the standard
    '~4 chars per token' heuristic)."""
    ws = words(F.col("text"))
    subwords = F.aggregate(
        F.transform(ws, lambda w: F.floor((F.length(w) + F.lit(3)) / F.lit(4))),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return docs.select(
        F.col("doc_id"),
        F.length("text").cast("long").alias("n_chars"),
        F.size(ws).cast("long").alias("n_ws_tokens"),
        subwords.alias("n_subword_est"),
    )


# the Gopher word-count window
_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 50, 100_000


def gopher_quality(
    docs: DataFrame,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", §A1.1 — the published repetition/format
    filter family), adapted to integer-exact arithmetic so the differential
    oracle matches bit-for-bit:

    - ``flag_word_count``:   50 <= n_words <= 100,000
    - ``flag_mean_word_len``: mean word length in [3, 10] — compared as
      ``3*n_words <= sum_len <= 10*n_words`` (pure integers, no division)
    - ``flag_alpha_words``:  >= 80% of words contain an ASCII letter,
      compared as ``5*n_alpha >= 4*n_words``
    - ``flag_stopwords``:    >= 2 occurrences of the English marker set
    - ``flag_symbol_ratio``: '#'-symbol count <= 10% of words
      (``10*n_hash <= n_words``)
    - ``gopher_pass``:       conjunction of all flags

    ``mean_word_len`` is also emitted as a single IEEE division (audit
    column).  Pure column algebra: a map-only stage, zero shuffle at any
    scale.  The reference has no text surface; this is the extension the
    100 TB training-data pipeline needs (SURVEY.md §7.1 M6).
    """
    ws = words(F.col("text"))
    n_words = F.size(ws).cast("long")
    sum_len = F.aggregate(
        F.transform(ws, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    n_alpha = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))).cast("long")
    n_stop = F.size(F.filter(ws, lambda w: w.isin(*LANG_MARKERS["en"]))).cast("long")
    n_hash = (F.length("text") - F.length(F.regexp_replace(F.col("text"), "#", ""))).cast(
        "long"
    )
    d = docs.select(
        F.col("doc_id"),
        *[F.col(c) for c in carry_cols],
        n_words.alias("n_words"),
        sum_len.alias("__sum_len"),
        n_alpha.alias("__n_alpha"),
        n_stop.alias("n_stopword_hits"),
        n_hash.alias("__n_hash"),
    )
    flags = {
        "flag_word_count": (F.col("n_words") >= _GOPHER_MIN_WORDS)
        & (F.col("n_words") <= _GOPHER_MAX_WORDS),
        "flag_mean_word_len": (F.lit(3) * F.col("n_words") <= F.col("__sum_len"))
        & (F.col("__sum_len") <= F.lit(10) * F.col("n_words")),
        "flag_alpha_words": F.lit(5) * F.col("__n_alpha") >= F.lit(4) * F.col("n_words"),
        "flag_stopwords": F.col("n_stopword_hits") >= 2,
        "flag_symbol_ratio": F.lit(10) * F.col("__n_hash") <= F.col("n_words"),
    }
    out = d.withColumns(
        {
            "mean_word_len": F.col("__sum_len").cast("double")
            / F.when(F.col("n_words") > 0, F.col("n_words")).otherwise(F.lit(1)).cast("double"),
            **{name: c.cast("int") for name, c in flags.items()},
        }
    )
    gopher_pass = None
    for name in flags:
        gopher_pass = F.col(name) if gopher_pass is None else (gopher_pass * F.col(name))
    return out.withColumn("gopher_pass", gopher_pass.cast("int")).drop(
        "__sum_len", "__n_alpha", "__n_hash"
    )


# chunk_documents: tokens per chunk and the step between chunk starts
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


def chunk_documents(docs: DataFrame) -> DataFrame:
    """Split each document's token sequence into overlapping context chunks
    (size ``CHUNK_TOKENS``, step ``CHUNK_STRIDE`` — overlap = chunk -
    stride), the
    standard windowing that feeds embedding indexes and packed training
    sequences.  Output: one row per chunk with ``(id, chunk_id, chunk_text,
    n_tokens)``; a document shorter than one chunk yields a single partial
    chunk; trailing tokens get a final partial chunk unless they are already
    covered by the previous window.

    Scale shape: pure column algebra — the chunk starts are a per-row
    ``sequence`` and the explode multiplies rows by ~n_tokens/stride without
    any shuffle; downstream consumers (embedding UDFs, dedup) repartition on
    their own keys.  Start positions, not text, drive the plan: no
    quadratic substring work, one ``slice`` per chunk.
    """
    ws = words(F.col("text"))
    n = F.size(ws)
    # starts 1, 1+stride, ... <= n; an empty document yields NO chunks
    # (null sequence -> posexplode emits nothing).
    starts = F.when(n > 0, F.sequence(F.lit(1), n, F.lit(CHUNK_STRIDE)))
    chunked = docs.select(
        F.col("doc_id"),
        ws.alias("__ws"),
        F.posexplode(starts).alias("chunk_id", "__start"),
    )
    piece = F.slice(F.col("__ws"), F.col("__start"), CHUNK_TOKENS)
    return chunked.select(
        F.col("doc_id"),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"),
    )


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Winnowing-style fingerprint: the 4 smallest word-trigram shingle
    hashes, sorted and joined — a compact, order-stable document sketch for
    fast prefilter dedup/provenance."""
    sh = shingles(F.col("text"), 3)
    hashes = F.array_sort(F.transform(sh, lambda s: F.md5(s)))
    return docs.select(
        F.col("doc_id"),
        F.concat_ws(":", F.slice(hashes, 1, 4)).alias("fingerprint"),
    ).where(F.col("fingerprint") != "")


# PII patterns: conservative explicit character classes that parse
# identically in Java regex (Spark) and RE2 (DuckDB) — no shorthand classes
# whose semantics could diverge, no backreferences (RE2 has none).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "<EMAIL>",
    ),
    # Separators deliberately exclude '.': a dotted phone pattern also
    # matches IPv4 literals with 3-digit middle octets (192.168.100.12),
    # which would be redacted as <PHONE> and miscounted in the audit.
    # Dot-separated phone formats are out of scope by this choice — the
    # rarer miss, vs. systematically misclassifying IPs.
    "phone": (
        r"\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3}[- ][0-9]{2,4}",
        "<PHONE>",
    ),
    "ipv4": (
        r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
        "<IP>",
    ),
}

# Replacement order: email first (its local part may contain digit runs);
# phone before ipv4 is safe because the phone separators exclude '.', so
# the two rules' match sets are disjoint on dotted literals.
PII_ORDER = ("email", "phone", "ipv4")


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII redaction — the standard pre-training scrub stage: emails, phone
    numbers, and IPv4 literals replaced with typed placeholder tokens, plus
    per-kind match counts for audit/measurement.  Pure column algebra
    (``regexp_replace`` / ``regexp_extract_all`` are JVM-side, codegen); at
    100 TB this is a map-only stage with zero shuffle.  Patterns are the
    conservative, cross-engine-identical subset — a production deployment
    extends PII_PATTERNS per policy (names/addresses need NER models, which
    belong in a mapInPandas stage)."""
    clean = F.col("text")
    counts = {}
    for kind in PII_ORDER:
        pat, token = PII_PATTERNS[kind]
        counts[f"n_{kind}"] = F.size(
            F.regexp_extract_all(clean, F.lit(pat), F.lit(0))
        ).cast("long")
        clean = F.regexp_replace(clean, pat, token)
    return docs.select(
        F.col("doc_id"),
        clean.alias("clean_text"),
        *[c.alias(n) for n, c in counts.items()],
    )


# boilerplate_scrub: words per passage, and the distinct documents a
# passage must appear in to count as boilerplate
PASSAGE_TOKENS = 8
BOILERPLATE_MIN_DOCS = 2


def boilerplate_scrub(docs: DataFrame) -> DataFrame:
    """Corpus-global duplicated-passage removal (CCNet / RefinedWeb-style
    boilerplate scrub): split each document into consecutive
    ``PASSAGE_TOKENS``-word passages, count each passage's document
    frequency across the WHOLE corpus, and rewrite every document with the
    passages that appear in ``BOILERPLATE_MIN_DOCS``-or-more distinct
    documents dropped (headers, footers, licence blocks, shared templates).  Output:
    one row per input document with ``clean_text`` (kept passages in
    original order), ``n_passages``, ``n_removed``, ``removed_tokens``.

    Scale shape: passages shuffle on their md5 digest (short fixed-width
    key, never the passage text) for the document-frequency aggregate —
    two partial-combinable hash aggregates (distinct-by-doc then count) —
    and once more for the digest-keyed flag join back onto the passage
    stream; reassembly is one shuffle on the document id.  No window over
    a global ordering, no driver-side state; a whale passage (one string
    in millions of docs) is still ONE digest group whose count partial-
    combines map-side.  Reference parity: the reference has no corpus-
    global scrub — this is the LLM-pipeline extension surface
    (Wenzek et al., CCNet, 2020)."""
    ws = words(F.col("text"))
    n = F.size(ws)
    starts = F.when(n > 0, F.sequence(F.lit(1), n, F.lit(PASSAGE_TOKENS)))
    piece = F.slice(F.col("__ws"), F.col("__start"), PASSAGE_TOKENS)
    p = (
        docs.select(
            F.col("doc_id"),
            ws.alias("__ws"),
            F.posexplode(starts).alias("__pid", "__start"),
        )
        .select(
            F.col("doc_id"),
            F.col("__pid").cast("long").alias("__pid"),
            F.concat_ws(" ", piece).alias("__ptext"),
            F.size(piece).cast("long").alias("__ptok"),
        )
        .withColumn("__pdigest", F.md5(F.col("__ptext")))
    )
    dfreq = (
        p.select("__pdigest", "doc_id")
        .distinct()
        .groupBy("__pdigest")
        .agg(F.count(F.lit(1)).cast("long").alias("__df"))
    )
    keep = F.col("__df") < BOILERPLATE_MIN_DOCS
    flagged = p.join(dfreq, "__pdigest")
    kept_sorted = F.array_sort(
        F.collect_list(F.when(keep, F.struct("__pid", "__ptext")))
    )
    return flagged.groupBy("doc_id").agg(
        F.concat_ws(
            " ", F.transform(kept_sorted, lambda x: x["__ptext"])
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_passages"),
        F.sum(F.when(keep, 0).otherwise(1)).cast("long").alias("n_removed"),
        F.sum(F.when(keep, 0).otherwise(F.col("__ptok")))
        .cast("long")
        .alias("removed_tokens"),
    )

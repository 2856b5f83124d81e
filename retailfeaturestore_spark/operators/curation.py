"""Corpus admission judgment — the curation rules behind the audit query
``corpus_curation_pipeline``, which rolls it up into a per-source report
against a DuckDB oracle.

Rules (all engine-exact integer comparisons):
- canonical copy: ``doc_id == min(doc_id)`` over the md5 content digest;
- not from the held-out benchmark source;
- all five Gopher quality flags;
- decontamination: strictly less than 50% of the doc's trigram shingles
  appear in the held-out source's shingle set (2*hits < n_shingles).

Plan shape (unchanged from the audited query): the dedup window on the
32-byte digest, map-side Gopher flags, the contamination postings
aggregation on doc_id with the held-out shingle set BROADCAST (corpus text
never shuffles for it), one doc_id join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import shingles
from .textops import gopher_quality

__all__ = ["judge_corpus_admission"]

GOPHER_FLAGS = (
    "flag_word_count",
    "flag_mean_word_len",
    "flag_alpha_words",
    "flag_stopwords",
    "flag_symbol_ratio",
)
# the held-out benchmark source whose shingles mark contamination
_HELDOUT_SOURCE = "src0"


def judge_corpus_admission(docs: DataFrame) -> DataFrame:
    """-> per-document ``(doc_id, source, n_words, kept)`` (kept in {0,1})."""
    flags = (
        gopher_quality(docs, carry_cols=("source", "text"))
        .withColumn(
            "__canon",
            (
                F.col("doc_id")
                == F.min("doc_id").over(Window.partitionBy(F.md5(F.col("text"))))
            ).cast("int"),
        )
        .drop("text")
    )
    cand = docs.where(F.col("source") != _HELDOUT_SOURCE).select(
        "doc_id", F.explode(shingles(F.col("text"), 3)).alias("sh")
    )
    ref = (
        docs.where(F.col("source") == _HELDOUT_SOURCE)
        .select(F.explode(shingles(F.col("text"), 3)).alias("sh"))
        .distinct()
    )
    contam = (
        cand.join(F.broadcast(ref.withColumn("__hit", F.lit(1))), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("__n_sh"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long").alias("__n_hit"),
        )
    )
    kept = (F.col("__canon") == 1) & (F.col("source") != _HELDOUT_SOURCE)
    for flag in GOPHER_FLAGS:
        kept = kept & (F.col(flag) == 1)
    kept = kept & (
        F.lit(2) * F.coalesce(F.col("__n_hit"), F.lit(0))
        < F.coalesce(F.col("__n_sh"), F.lit(1))
    )
    return (
        flags.join(contam, "doc_id", "left")
        .withColumn("kept", kept.cast("int"))
        .select("doc_id", "source", "n_words", "kept")
    )

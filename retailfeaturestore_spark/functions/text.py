"""Text expression builders: tokenization, shingles, deterministic hashing.

All pure Column expressions over built-in functions — shingling and hashing
run inside whole-stage codegen, no Python in the hot path.  The hash family
is md5-based because it is deterministic AND identical across engines (the
DuckDB differential oracle computes the same md5 strings); the scale path can
swap ``xxhash64`` in via ``hash_fn`` (documented divergence: oracle then
becomes rows-only).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["words", "shingles"]


def words(text: Column) -> Column:
    """Whitespace tokenization (the testdata documents are single-space
    separated; extend with regexp_split for real corpora)."""
    return F.split(text, " ")


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingle set as an array<string>.

    Built by zipping ``n-1`` shifted copies of the token array
    (``zip_with(ws, slice(ws, 2, ...), concat)`` chained), NOT by a
    ``transform(sequence(...), i -> slice(words(text), i, n))`` lambda:
    higher-order-function bodies are interpreted per element, so a
    ``split`` referenced inside the lambda re-tokenizes the document once
    per gram — O(words²) per row (measured 3x wall-time on the corpus
    n-gram scan).  The zip form evaluates ``split`` a constant number of
    times per row and each lambda body only touches its bound arguments.
    Documents shorter than ``n`` words yield an empty set (matching the
    oracle's ``generate_series(1, greatest(len-n+1, 0))``).
    """
    ws = words(text)
    k = F.greatest(F.size(ws) - F.lit(n - 1), F.lit(0))
    gram = ws
    for shift in range(1, n):
        shifted = F.slice(
            ws, shift + 1, F.greatest(F.size(ws) - F.lit(shift), F.lit(0))
        )
        gram = F.zip_with(gram, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(F.slice(gram, F.lit(1), k))

"""Sequence packing: assemble tokenized documents into fixed-length training
sequences — the last mile of an LLM data pipeline (after dedup/quality the
corpus must become uniform ``PACK_MAX_TOKENS``-token training rows).

Two packing disciplines, both deterministic and seedless so results are
engine-portable and retry-stable:

- ``pack_chunks``: concat-and-chunk (the GPT-style pretraining layout) —
  documents are concatenated in ``doc_id`` order within a shard and the
  token stream is cut every ``PACK_MAX_TOKENS``.  Pure column algebra + one
  window, integer-exact, so it carries a bit-exact DuckDB oracle.
- ``pack_bins_ffd``: first-fit-decreasing bin packing (the SFT layout where
  documents must NOT be split) — greedy per shard via ``applyInPandas``.
  Inherently sequential per shard, so the shard is the parallel grain.

Scale shape: the shard is the unit of packing AND the unit of output (one
shard ≙ one training-data file), exactly how a 100 TB packing job is laid
out — shards are md5-uniform over documents, so 100 TB / PACK_N_SHARDS
stays bounded per worker by choosing PACK_N_SHARDS, and no stage ever sees
the whole corpus in one task.  The reference has no text surface (it is a retail
feature-store, SURVEY.md §0); this extends the engine per the
training-data-pipeline brief.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import words

__all__ = ["pack_chunks", "pack_chunk_text", "pack_bins_ffd"]

# tokens per packed sequence (bin capacity for FFD) and the number of
# md5 shards, each one training-data file
PACK_MAX_TOKENS = 512
PACK_N_SHARDS = 8


def _shard_col():
    """md5-uniform shard id (first 8 hex chars of md5('pack#'||id), i.e. 32
    bits, mod ``PACK_N_SHARDS``) — the engine-portable coin used throughout (cf.
    hash_split, negative sampling): DuckDB computes the identical value, so
    oracles survive.  32 bits keeps the distribution uniform to ~1/2^32 for
    any realistic shard count (a single byte would cap the knob at 256 and
    skew above 64 — the docstring's per-task memory bound must hold for
    thousands of shards)."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit("pack#"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long")
        % F.lit(PACK_N_SHARDS)
    )


def _interval_cols(start, n, c):
    """The per-(doc, chunk) token interval [lo, hi) — the arithmetic BOTH
    packing oracles certify, kept in exactly one place."""
    lo = F.greatest(start, c * F.lit(PACK_MAX_TOKENS))
    hi = F.least(start + n, (c + F.lit(1)) * F.lit(PACK_MAX_TOKENS))
    return lo, hi


def _chunk_seq():
    """chunk ids a document intersects: start div m .. (end-1) div m."""
    return F.sequence(
        F.expr(f"__start div {PACK_MAX_TOKENS}"),
        F.expr(f"(__start + __n_tokens - 1) div {PACK_MAX_TOKENS}"),
    )


def _positions(docs: DataFrame, with_text: bool) -> DataFrame:
    """Shared packing front: per document ``(shard, __n_tokens, __start``
    and, with ``with_text``, ``__ws)`` — the md5 shard assignment and the
    running token offset (ONE window over the one shard exchange).

    Precondition: ``doc_id`` is unique (the documents table's key).  A
    duplicated id would make the running-offset window's tie order — hence
    every downstream offset — partition-order-dependent.

    Empty/null documents contribute NOTHING (explicit ``text != ''``
    filter: ``split('', ' ')`` is ``['']`` — size 1 — so the token-count
    filter alone would pack a phantom empty token and shift every
    subsequent offset; the streaming packer skips empties, and the two
    must agree).
    """
    ws = words(F.col("text"))
    cols = [
        F.col("doc_id"),
        F.size(ws).cast("long").alias("__n_tokens"),
        _shard_col().alias("shard"),
    ]
    if with_text:
        cols.insert(1, ws.alias("__ws"))
    t = docs.where(F.col("text") != "").select(*cols).where(F.col("__n_tokens") > 0)
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    carry = ["shard", "__n_tokens"] + (["__ws"] if with_text else [])
    return t.select(
        *carry,
        (F.sum("__n_tokens").over(w) - F.col("__n_tokens")).alias("__start"),
    )


def _fragments(docs: DataFrame) -> DataFrame:
    """Ledger fragments: one row per (document, intersected chunk) with the
    token interval bounds — :func:`_positions` + the chunk-span explode."""
    pos = _positions(docs, with_text=False)
    frag = pos.select(
        "shard",
        "__n_tokens",
        "__start",
        F.explode(_chunk_seq()).alias("chunk_id"),
    )
    lo, hi = _interval_cols(F.col("__start"), F.col("__n_tokens"), F.col("chunk_id"))
    return frag.withColumns({"__lo": lo, "__hi": hi})


def pack_chunks(docs: DataFrame) -> DataFrame:
    """Concat-and-chunk packing statistics: per (shard, chunk) — how many
    document fragments land in the chunk, how many documents *start* there,
    and the token fill (== ``PACK_MAX_TOKENS`` everywhere except each
    shard's final chunk).

    Within a shard documents are laid head-to-tail in ``doc_id`` order; a
    document occupying token interval [start, end) intersects chunks
    ``start div m .. (end-1) div m`` for ``m = PACK_MAX_TOKENS``.  The per-chunk
    attribution is interval arithmetic on longs — no floats anywhere, so
    the DuckDB oracle is hash-exact.

    Plan: ONE hash exchange (shard) for the running-offset window; the
    fragment explode is bounded by ``total_tokens/m + n_docs``
    rows (each document adds at most its chunk-span), then a partial-agg
    rollup on (shard, chunk_id).  Nothing is quadratic and no stage holds
    more than a shard's token ledger.  Precondition: unique ``doc_id``
    (see :func:`_positions`).
    """
    frag = _fragments(docs)
    chunk_start = F.col("chunk_id") * F.lit(PACK_MAX_TOKENS)
    started = F.when(F.col("__start") >= chunk_start, 1).otherwise(0)
    return (
        frag.groupBy("shard", "chunk_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(started).cast("long").alias("n_docs_started"),
            F.sum(F.col("__hi") - F.col("__lo")).cast("long").alias("n_tokens"),
        )
        .select("shard", F.col("chunk_id").cast("long").alias("chunk_id"), "n_docs", "n_docs_started", "n_tokens")
    )


def pack_chunk_text(docs: DataFrame) -> DataFrame:
    """The MATERIALIZED packed sequences (``pack_chunks`` emits the ledger;
    this emits the training rows): per (shard, chunk_id) the actual
    ``PACK_MAX_TOKENS``-token text, document fragments stitched in stream order.

    Same interval arithmetic as :func:`pack_chunks`; each fragment carries
    its token ``slice`` across to the chunk rollup, where fragments are
    stitched by an ``array_sort`` on (start, piece) — deterministic, no
    second sort pass.  Plan: the text rides the ONE shard exchange (a
    packing job must move text to its output shard — that is the job),
    and the rollup again reuses the shard partitioning.  Precondition:
    unique ``doc_id`` (see :func:`_positions`).

    Whale-doc safety: the piece is SLICED INSIDE the chunk-sequence
    ``transform`` so only the (chunk_id, piece) structs ride the explode —
    a T-token document costs O(T) total, never O(T x chunks) (exploding
    first and slicing after would copy the full token array into every
    fragment row: quadratic for a document spanning many chunks).
    """
    pos = _positions(docs, with_text=True)

    def piece_struct(c):
        lo, hi = _interval_cols(F.col("__start"), F.col("__n_tokens"), c)
        piece = F.concat_ws(
            " ",
            F.slice(F.col("__ws"), (lo - F.col("__start") + 1).cast("int"), (hi - lo).cast("int")),
        )
        return F.struct(
            c.cast("long").alias("c"),
            F.col("__start").alias("s"),
            piece.alias("p"),
            (hi - lo).alias("n"),
        )

    pieces = pos.select(
        "shard", F.explode(F.transform(_chunk_seq(), piece_struct)).alias("__x")
    ).select(
        "shard",
        F.col("__x.c").alias("chunk_id"),
        F.struct(F.col("__x.s").alias("s"), F.col("__x.p").alias("p")).alias("__piece"),
        F.col("__x.n").alias("__n"),
    )
    stitched = F.concat_ws(
        " ", F.transform(F.array_sort(F.collect_list("__piece")), lambda x: x["p"])
    )
    return (
        pieces.groupBy("shard", "chunk_id")
        .agg(stitched.alias("chunk_text"), F.sum("__n").cast("long").alias("n_tokens"))
        .select(
            "shard",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            "chunk_text",
            "n_tokens",
        )
    )


def _ffd_pack(lengths: Iterable[tuple[int, int]], max_tokens: int) -> dict[int, int]:
    """Deterministic first-fit-decreasing: items (doc_id, n_tokens) sorted by
    (-n_tokens, doc_id), each placed in the lowest-numbered bin with room;
    an oversized document gets a bin of its own (never split, never
    dropped).  Returns {doc_id: bin_id}.  Pure python on ONE shard's
    ledger — (id, length) pairs only, never text."""
    order = sorted(lengths, key=lambda p: (-p[1], p[0]))
    free: list[int] = []  # free[b] = remaining capacity of bin b
    out: dict[int, int] = {}
    for doc_id, n in order:
        placed = None
        for b, cap in enumerate(free):
            if n <= cap:
                placed = b
                break
        if placed is None:
            free.append(max_tokens)
            placed = len(free) - 1
            if n > max_tokens:
                free[placed] = 0
                out[doc_id] = placed
                continue
        free[placed] -= n
        out[doc_id] = placed
    return out


def pack_bins_ffd(docs: DataFrame) -> DataFrame:
    """First-fit-decreasing packing (documents kept whole): per (shard,
    bin) — document count, token fill, and the largest member.  The greedy
    is per-shard ``applyInPandas`` over the (doc_id, n_tokens) LEDGER only
    — text never crosses the Arrow boundary, so a shard's batch is a few
    MB even when its documents are GBs.

    Deterministic (sort by (-n_tokens, doc_id), lowest-bin-first placement,
    oversized docs isolated in their own bin), hence retry/partition-order
    stable — but order-dependent greedy state is not SQL-expressible, so
    this surface is pytest-verified (differential vs an independent python
    packer) rather than oracle-backed, like the streaming operators.

    Precondition: unique ``doc_id``; a duplicated id would let two rows
    share one greedy placement and silently overflow a bin, so the
    per-shard packer fails loudly instead.
    """
    n_tok = F.size(words(F.col("text"))).cast("long")
    ledger = (
        docs.where(F.col("text") != "")  # empty docs contribute nothing
        .select(
            F.col("doc_id"),
            n_tok.alias("n_tokens"),
            _shard_col().alias("shard"),
        )
        .where(F.col("n_tokens") > 0)
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf["doc_id"].duplicated().any():
            dup = pdf.loc[pdf["doc_id"].duplicated(), "doc_id"].iloc[0]
            raise ValueError(
                f"pack_bins_ffd requires unique doc ids; id {dup!r} appears "
                "more than once — dedupe upstream"
            )
        assign = _ffd_pack(zip(pdf["doc_id"].tolist(), pdf["n_tokens"].tolist()), PACK_MAX_TOKENS)
        pdf = pdf.assign(bin_id=pdf["doc_id"].map(assign))
        g = pdf.groupby(["shard", "bin_id"], as_index=False).agg(
            n_docs=("doc_id", "size"),
            n_tokens=("n_tokens", "sum"),
            max_doc_tokens=("n_tokens", "max"),
        )
        return g[["shard", "bin_id", "n_docs", "n_tokens", "max_doc_tokens"]]

    return ledger.groupBy("shard").applyInPandas(
        pack,
        "shard long, bin_id long, n_docs long, n_tokens long, max_doc_tokens long",
    )

"""Sequence packing (operators/packing.py): concat-and-chunk differential
vs a brute-force python packer, FFD invariants + independent-packer
differential, determinism under repartitioning."""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from retailfeaturestore_spark.operators import packing
from retailfeaturestore_spark.operators.packing import (
    _ffd_pack,
    pack_bins_ffd,
    pack_chunks,
)

from conftest import TESTDATA_SF, requires_testdata

MAX_TOKENS = 64
N_SHARDS = 4


@pytest.fixture
def small_packs(monkeypatch):
    """Pack into MAX_TOKENS-token sequences over N_SHARDS shards, so the
    small fixture spans several chunks and shards."""
    monkeypatch.setattr(packing, "PACK_MAX_TOKENS", MAX_TOKENS)
    monkeypatch.setattr(packing, "PACK_N_SHARDS", N_SHARDS)
    return monkeypatch


def _shard(doc_id: int) -> int:
    h = hashlib.md5(f"pack#{doc_id}".encode()).hexdigest()
    return int(h[:8], 16) % N_SHARDS


def _docs(spark):
    rows = [
        (0, "a " * 9 + "end"),          # 10 tokens
        (1, "b " * 99 + "end"),         # 100 tokens — spans chunks
        (2, "word " * 199 + "end"),     # 200 tokens — bigger than MAX_TOKENS
        (3, "x"),                       # 1 token
        (4, "y z"),                     # 2 tokens
        (5, "q " * 63 + "end"),         # exactly MAX_TOKENS
        (7, "r " * 30 + "end"),         # 31 tokens
        (11, "s " * 40 + "end"),        # 41 tokens
    ]
    return spark.createDataFrame([(i, t.strip()) for i, t in rows], "doc_id long, text string")


def _brute_chunks(rows: list[tuple[int, int]]) -> dict[tuple[int, int], tuple[int, int, int]]:
    """Reference concat-and-chunk: walk each shard's docs in id order over a
    literal token stream; returns {(shard, chunk): (n_docs, n_started,
    n_tokens)}."""
    out: dict[tuple[int, int], list[int]] = {}
    by_shard: dict[int, list[tuple[int, int]]] = {}
    for doc_id, n in sorted(rows):
        by_shard.setdefault(_shard(doc_id), []).append((doc_id, n))
    for shard, docs in by_shard.items():
        pos = 0
        for _doc_id, n in docs:
            start, end = pos, pos + n
            pos = end
            for c in range(start // MAX_TOKENS, (end - 1) // MAX_TOKENS + 1):
                cell = out.setdefault((shard, c), [0, 0, 0])
                cell[0] += 1
                cell[1] += 1 if start >= c * MAX_TOKENS else 0
                cell[2] += min(end, (c + 1) * MAX_TOKENS) - max(start, c * MAX_TOKENS)
    return {k: tuple(v) for k, v in out.items()}


def test_pack_chunks_matches_bruteforce(spark, small_packs):
    docs = _docs(spark)
    got = {
        (r["shard"], r["chunk_id"]): (r["n_docs"], r["n_docs_started"], r["n_tokens"])
        for r in pack_chunks(docs).collect()
    }
    lens = {r["doc_id"]: len(r["text"].split(" ")) for r in docs.collect()}
    assert got == _brute_chunks(list(lens.items()))
    # every chunk except each shard's last is exactly full
    last = {s: max(c for (s2, c) in got if s2 == s) for s in {s for (s, _) in got}}
    for (s, c), (_, _, n_tok) in got.items():
        if c != last[s]:
            assert n_tok == MAX_TOKENS
    # token conservation
    assert sum(v[2] for v in got.values()) == sum(lens.values())


def test_pack_chunk_text_reconstructs_stream(spark, small_packs):
    """The materialized chunks, concatenated per shard in chunk order, must
    equal the shard's document stream (doc texts joined in id order) —
    and every chunk must carry exactly its ledger's token count."""
    from retailfeaturestore_spark.operators.packing import pack_chunk_text

    docs = _docs(spark)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    rows = pack_chunk_text(docs).collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
        assert len(r["chunk_text"].split(" ")) == r["n_tokens"]
        assert r["n_tokens"] <= MAX_TOKENS
    for shard, chunk_rows in by_shard.items():
        stream = " ".join(
            texts[d] for d in sorted(texts) if _shard(d) == shard
        )
        rebuilt = " ".join(
            r["chunk_text"] for r in sorted(chunk_rows, key=lambda r: r["chunk_id"])
        )
        assert rebuilt == stream
    # chunk stats agree with the ledger operator
    ledger = {
        (r["shard"], r["chunk_id"]): r["n_tokens"]
        for r in pack_chunks(docs).collect()
    }
    assert {(r["shard"], r["chunk_id"]): r["n_tokens"] for r in rows} == ledger


def test_pack_chunks_partition_invariant(spark, small_packs):
    docs = _docs(spark)
    a = sorted(map(tuple, pack_chunks(docs).collect()))
    b = sorted(map(tuple, pack_chunks(docs.repartition(7)).collect()))
    assert a == b


def _independent_ffd(items: list[tuple[int, int]], cap: int) -> dict[int, int]:
    """Second implementation (different data structure: explicit bin list of
    (remaining, id)) to differentially check _ffd_pack."""
    bins: list[int] = []
    where: dict[int, int] = {}
    for doc_id, n in sorted(items, key=lambda p: (-p[1], p[0])):
        for b in range(len(bins)):
            if bins[b] >= n:
                bins[b] -= n
                where[doc_id] = b
                break
        else:
            bins.append(0 if n > cap else cap - n)
            where[doc_id] = len(bins) - 1
    return where


def test_ffd_pack_differential_and_invariants(spark, small_packs):
    docs = _docs(spark)
    lens = {r["doc_id"]: len(r["text"].split(" ")) for r in docs.collect()}
    # unit: the greedy itself vs the independent packer
    items = list(lens.items())
    assert _ffd_pack(items, MAX_TOKENS) == _independent_ffd(items, MAX_TOKENS)

    out = pack_bins_ffd(docs).collect()
    # doc + token conservation
    assert sum(r["n_docs"] for r in out) == len(lens)
    assert sum(r["n_tokens"] for r in out) == sum(lens.values())
    for r in out:
        # capacity: a bin exceeds max_tokens only as a single oversized doc
        if r["n_tokens"] > MAX_TOKENS:
            assert r["n_docs"] == 1 and r["max_doc_tokens"] == r["n_tokens"]
        # expected shard assignment
        assert r["shard"] in range(N_SHARDS)
    # distributed result == local greedy per shard
    per_shard: dict[int, list[tuple[int, int]]] = {}
    for doc_id, n in lens.items():
        per_shard.setdefault(_shard(doc_id), []).append((doc_id, n))
    for shard, its in per_shard.items():
        want = _ffd_pack(its, MAX_TOKENS)
        want_bins = {}
        for doc_id, b in want.items():
            cell = want_bins.setdefault(b, [0, 0, 0])
            cell[0] += 1
            cell[1] += lens[doc_id]
            cell[2] = max(cell[2], lens[doc_id])
        got_bins = {
            r["bin_id"]: [r["n_docs"], r["n_tokens"], r["max_doc_tokens"]]
            for r in out
            if r["shard"] == shard
        }
        assert got_bins == want_bins


def test_ffd_partition_invariant(spark, small_packs):
    docs = _docs(spark)
    a = sorted(map(tuple, pack_bins_ffd(docs).collect()))
    b = sorted(map(tuple, pack_bins_ffd(docs.repartition(5)).collect()))
    assert a == b


@requires_testdata
def test_pack_chunks_on_testdata_fill_property(spark):
    from retailfeaturestore_spark.io import load_table

    docs = load_table(spark, TESTDATA_SF, "documents")
    out = pack_chunks(docs)
    rows = out.collect()
    last = {}
    for r in rows:
        last[r["shard"]] = max(last.get(r["shard"], -1), r["chunk_id"])
    for r in rows:
        assert r["n_tokens"] == packing.PACK_MAX_TOKENS or r["chunk_id"] == last[r["shard"]]
        assert r["n_docs_started"] <= r["n_docs"]


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:
    ledgers = st.lists(
        st.tuples(st.integers(0, 60), st.integers(1, 150)),  # (doc_id, n_tokens)
        min_size=1,
        max_size=40,
        unique_by=lambda p: p[0],
    )

    @settings(max_examples=200, deadline=None)
    @given(ledgers, st.integers(1, 64))
    def test_interval_arithmetic_matches_literal_stream(items, cap):
        """The div/mod interval formulation (what Spark AND the DuckDB
        oracle compute — a shared misunderstanding would pass the oracle)
        vs a literal token-stream walk: materialize the stream, chop it."""
        items = sorted(items)
        # literal: one list entry per token
        stream: list[int] = []
        first_tok: dict[int, int] = {}
        for doc_id, n in items:
            first_tok[doc_id] = len(stream)
            stream.extend([doc_id] * n)
        literal = {}
        for c in range((len(stream) + cap - 1) // cap):
            toks = stream[c * cap : (c + 1) * cap]
            literal[c] = (
                len(set(toks)),
                sum(1 for d in set(toks) if c * cap <= first_tok[d] < (c + 1) * cap),
                len(toks),
            )
        # interval arithmetic (the operator/oracle formulation)
        interval: dict[int, list[int]] = {}
        pos = 0
        for doc_id, n in items:
            start, end = pos, pos + n
            pos = end
            for c in range(start // cap, (end - 1) // cap + 1):
                cell = interval.setdefault(c, [0, 0, 0])
                cell[0] += 1
                cell[1] += 1 if start >= c * cap else 0
                cell[2] += min(end, (c + 1) * cap) - max(start, c * cap)
        assert {k: tuple(v) for k, v in interval.items()} == literal

    @settings(max_examples=200, deadline=None)
    @given(ledgers, st.integers(1, 80))
    def test_ffd_two_implementations_agree(items, cap):
        assert _ffd_pack(items, cap) == _independent_ffd(items, cap)
        # capacity invariant: multi-doc bins never exceed cap
        fill: dict[int, list[int]] = {}
        for doc_id, b in _ffd_pack(items, cap).items():
            n = dict(items)[doc_id]
            fill.setdefault(b, []).append(n)
        for members in fill.values():
            assert sum(members) <= cap or len(members) == 1


def test_empty_and_null_docs_pack_to_nothing(spark, small_packs):
    """split('', ' ') is [''] (size 1) — without the explicit empty-text
    filter the batch packers would pack a phantom token and diverge from
    the streaming packer, which skips empties."""
    from retailfeaturestore_spark.operators.packing import pack_chunk_text

    docs = _docs(spark).union(
        spark.createDataFrame([(90, ""), (91, None)], "doc_id long, text string")
    )
    base = sorted(map(tuple, pack_chunk_text(_docs(spark)).collect()))
    with_empties = sorted(map(tuple, pack_chunk_text(docs).collect()))
    assert base == with_empties
    ledger = sorted(map(tuple, pack_chunks(docs).collect()))
    assert ledger == sorted(map(tuple, pack_chunks(_docs(spark)).collect()))


def test_pack_chunk_text_whale_doc_linear(spark, small_packs):
    """A single 60k-token document spanning ~940 chunks must pack in O(T):
    the piece is sliced inside the chunk-sequence transform, so the full
    token array never rides the explode (the explode-then-slice shape
    copies the whole array into every fragment row — O(T x chunks))."""
    from retailfeaturestore_spark.operators.packing import pack_chunk_text

    n = 60_000
    whale = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(n)))], "doc_id long, text string"
    )
    small_packs.setattr(packing, "PACK_N_SHARDS", 1)
    rows = pack_chunk_text(whale).collect()
    assert sum(r["n_tokens"] for r in rows) == n
    assert len(rows) == (n + MAX_TOKENS - 1) // MAX_TOKENS
    rebuilt = " ".join(
        r["chunk_text"] for r in sorted(rows, key=lambda r: r["chunk_id"])
    )
    assert rebuilt == " ".join(f"t{i}" for i in range(n))


def test_ffd_duplicate_doc_ids_fail_loudly(spark, small_packs):
    """A duplicated id would let two rows share one greedy placement and
    silently overflow a bin — the per-shard packer must refuse."""
    docs = _docs(spark).union(_docs(spark).limit(1))
    with pytest.raises(Exception, match="unique doc ids"):
        pack_bins_ffd(docs).collect()


def test_shard_coin_uniform_beyond_256_shards(spark, monkeypatch):
    """The 32-bit shard coin must keep high shard ids populated (a 1-byte
    coin would leave every shard >= 256 permanently empty)."""
    from retailfeaturestore_spark.operators.packing import _shard_col

    monkeypatch.setattr(packing, "PACK_N_SHARDS", 1024)
    df = spark.range(4000).select(
        F.col("id").alias("doc_id"), _shard_col().alias("shard")
    )
    n_high = df.where(F.col("shard") >= 256).count()
    assert n_high > 2000  # ~3/4 of rows under a uniform coin

"""Incremental near-dup admission on the directory state: state
accumulates across batches, a replay never self-matches, and a corrupted
state fails loudly."""

from __future__ import annotations

from retailfeaturestore_spark.streaming.neardup_stream import ingest_batch_neardup

BASE = (
    "the quick brown fox jumps over the lazy dog near the river bank today"
)


def test_ingest_batch_core_cross_batch_witness(spark, tmp_path):
    """A doc admitted in batch 1 must reject its near-dup arriving in
    batch 2 (state actually accumulates), and the short unshingleable doc
    is admitted without error."""
    b1 = spark.createDataFrame(
        [(10, BASE), (11, "unrelated words about parquet row groups")],
        "doc_id long, text string",
    )
    d1 = {r["doc_id"]: r for r in ingest_batch_neardup(b1, str(tmp_path / "st")).collect()}
    assert not d1[10]["is_neardup"] and not d1[11]["is_neardup"]

    b2 = spark.createDataFrame(
        [(20, BASE + " truly"), (21, "tiny")], "doc_id long, text string"
    )
    d2 = {r["doc_id"]: r for r in ingest_batch_neardup(b2, str(tmp_path / "st")).collect()}
    assert d2[20]["is_neardup"] and d2[20]["matched_id"] == 10
    assert not d2[21]["is_neardup"] and d2[21]["matched_id"] is None


def test_replayed_batch_never_self_matches(spark, tmp_path):
    """At-least-once retry: re-admitting the same batch after its state
    append landed must not flag docs as duplicates of THEMSELVES; unique
    docs stay admitted on replay."""
    b = spark.createDataFrame(
        [(30, BASE), (31, "entirely distinct content on columnar shuffles")],
        "doc_id long, text string",
    )
    first = {r["doc_id"]: r for r in ingest_batch_neardup(b, str(tmp_path / "st")).collect()}
    assert not first[30]["is_neardup"] and not first[31]["is_neardup"]
    # replay the identical batch (state now contains these ids)
    again = {r["doc_id"]: r for r in ingest_batch_neardup(b, str(tmp_path / "st")).collect()}
    for did in (30, 31):
        assert again[did]["matched_id"] != did, "self-match on replay"
        assert not again[did]["is_neardup"]


def test_orphan_band_witness_fails_loudly(spark, tmp_path):
    """ADVICE r5: bands-without-postings state (a caller swallowed a
    partial append) must raise, not silently ADMIT a true near-duplicate."""
    import shutil

    import pytest

    st = tmp_path / "st"
    b1 = spark.createDataFrame([(40, BASE)], "doc_id long, text string")
    ingest_batch_neardup(b1, str(st))
    # corrupt the state: keep the bands, drop the shingle postings
    shutil.rmtree(str(st / "postings"))
    b2 = spark.createDataFrame(
        [(41, BASE + " also")], "doc_id long, text string"
    )
    with pytest.raises(RuntimeError, match="no.*postings|corrupted"):
        ingest_batch_neardup(b2, str(st)).collect()

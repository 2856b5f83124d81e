"""ACID near-dup admission (mtable state) + CDC-driven corpus dedup.

The contracts: (1) the mtable backend's decisions equal the directory
backend's on the same batch sequence (shared decision core); (2) a batch's
bands+postings land in ONE atomic commit; (3) a REPLAYED batch id is
re-answered bit-identically against the pre-batch snapshot via time travel
with no second state append (exactly-once, the caveat the dir backend
documents away); (4) driving admission from a documents-mtable change feed
end-to-end produces the same decisions as sequential ingest.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from retailfeaturestore_spark.sources.mtable import MTable
from retailfeaturestore_spark.streaming.changes_stream import ChangeFeedConsumer
from retailfeaturestore_spark.streaming.neardup_stream import (
    ingest_batch_neardup,
    ingest_batch_neardup_mtable,
)

BASE = (
    "the quick brown fox jumps over the lazy dog near the river bank today"
)
DOCS = [
    (0, BASE),
    (1, BASE + " indeed"),  # near-dup of 0
    (2, "completely different text about spark shuffle partitions and joins"),
    (3, BASE.replace("quick", "swift")),  # near-dup of 0/1
    (4, "another unrelated document mentioning gradient descent optimizers"),
    (5, "completely different text about spark shuffle partitions and joins!"),
    (6, "short"),  # too short to shingle: always admitted
]
BATCHES = (DOCS[:3], DOCS[3:5], DOCS[5:])


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _decisions(dec_df):
    return {
        r.doc_id: (r.is_neardup, r.matched_id, r.n_matches)
        for r in dec_df.collect()
    }


@pytest.mark.slow  # driver verify-window fit (r14): see pyproject addopts
def test_mtable_backend_matches_dir_backend_and_commits_atomically(
    spark, tmp_path
):
    tbl = MTable(spark, str(tmp_path / "state_mt"))
    got_mt, got_dir = {}, {}
    for i, rows in enumerate(BATCHES):
        got_mt.update(
            _decisions(ingest_batch_neardup_mtable(_df(spark, rows), tbl, i))
        )
        got_dir.update(
            _decisions(
                ingest_batch_neardup(_df(spark, rows), str(tmp_path / "state_dir"))
            )
        )
    assert got_mt == got_dir
    assert any(v for (v, _, _) in got_mt.values()), "fixture has near-dups"
    # one atomic commit per batch, bands+postings together
    assert [h["version"] for h in tbl.history()] == [1, 2, 3]
    for v in (1, 2, 3):
        kinds = {
            r.kind
            for r in tbl.read_changes(v - 1, v).select("kind").distinct().collect()
        }
        assert kinds == {"band", "post"}


def test_replay_is_exactly_once_and_bit_identical(spark, tmp_path):
    tbl = MTable(spark, str(tmp_path / "state_mt"))
    first = {}
    for i, rows in enumerate(BATCHES):
        first[i] = _decisions(
            ingest_batch_neardup_mtable(_df(spark, rows), tbl, i)
        )
    n_versions = len(tbl.versions())
    state_rows = tbl.read().count()
    # replay EVERY batch id out of order: decisions must be the originals
    # (answered against the pre-batch snapshot), state untouched
    for i in (1, 0, 2):
        again = _decisions(
            ingest_batch_neardup_mtable(_df(spark, BATCHES[i]), tbl, i)
        )
        assert again == first[i]
    assert len(tbl.versions()) == n_versions
    assert tbl.read().count() == state_rows


@pytest.mark.slow  # driver verify-window fit (r14): see pyproject addopts
def test_change_feed_drives_admission_end_to_end(spark, tmp_path):
    # the corpus is itself an mtable receiving commits; admission tails it
    corpus = MTable(spark, str(tmp_path / "corpus"))
    state = MTable(spark, str(tmp_path / "state_mt"))

    def admit(feed, v_from, v_to):
        batch = feed.where(F.col("_change_type") == "insert").select(
            "doc_id", "text"
        )
        admit.out.update(
            _decisions(ingest_batch_neardup_mtable(batch, state, v_to))
        )

    admit.out = {}
    c = ChangeFeedConsumer(corpus, str(tmp_path / "ckpt"))
    for rows in BATCHES:
        corpus.write(
            _df(spark, rows).withColumn("bucket", F.lit("a")),
            mode="append",
            partition_by="bucket",
        )
        c.run_available(admit)
    want = {}
    for i, rows in enumerate(BATCHES):
        want.update(
            _decisions(
                ingest_batch_neardup(_df(spark, rows), str(tmp_path / "state_dir"))
            )
        )
    assert admit.out == want

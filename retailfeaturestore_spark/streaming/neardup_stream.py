"""Incremental near-duplicate admission for continuous corpus ingestion.

The batch dedup pipeline (``operators/dedup.py``) answers "which documents in
THIS corpus are near-duplicates of each other".  A training-data pipeline at
100 TB does not re-run that over the whole corpus per day — new documents
arrive continuously and each must be admitted or rejected against everything
already ingested.  This module is that operator: MinHash/LSH banding of each
micro-batch probed against an ACCUMULATED band store, exact n-gram Jaccard
verification against the stored shingle postings, and append-only state
growth — the standard "dedup at ingestion time" shape (same MinHash-LSH
construction as the batch path; cf. Lee et al., "Deduplicating Training Data
Makes Language Models Better", ACL 2022).

Admission policy (arrival-order semantics): a document is flagged as a
near-duplicate iff it verifies (Jaccard >= threshold) against any document
from an earlier batch, or against a same-batch document with a smaller id.
When documents arrive in id order this is EXACTLY the batch greedy-by-id
rule, which the replay-equals-batch test asserts.

Scale shape per micro-batch (B = batch docs, S = accumulated state):
- shingle/digest/signature work is O(B) and map-only;
- the probe join shuffles only ``(band, band_key)`` short keys; the state
  side is bucket-prunable (at scale: partition the band store by ``band``
  and z-order/bucket by ``band_key`` so the probe reads only colliding
  buckets — never the whole store);
- Jaccard verification touches only the postings of CANDIDATE pairs;
- state grows by O(B) rows per batch (bands + postings), appended once.

Delivery semantics: the decisions are COMPUTED (eagerly materialized)
against the pre-batch state, then the state append runs, then the caller's
decision write — none of it transactional, so a crash replays the batch
(at-least-once; the dangerous window is state-appended-but-decisions-
unwritten).  Witness postings are deduped on the candidate-bounded re-read
so a replayed append never double-counts intersections, and self-pairs are
excluded from the probe so a replayed doc never matches its own earlier
append.  A replayed batch can still OVER-flag (never under-flag): a
same-batch near-dup pair (a < b; only b flagged originally) reappears with
a's bands already in the store, so a is flagged too on the second pass —
conservative in the safe direction for dedup.  A caller driving
:func:`ingest_batch_neardup` directly who SWALLOWS a partial-append failure
and keeps ingesting is outside this guarantee — the postings-first write
order plus the orphan-witness guard turn that misuse into a loud
``RuntimeError`` rather than silent admission of true duplicates.
Downstream consumers dedupe
decisions by ``doc_id`` keeping the earliest batch's row.  (On a lakehouse
table both writes become one transactional commit keyed by ``batch_id`` —
:func:`ingest_batch_neardup_mtable` — and the replay caveat disappears.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import band_rows, minhash_signatures, posting_lists

__all__ = [
    "ingest_batch_neardup",
    "ingest_batch_neardup_mtable",
]

# word n-gram length, MinHash components, LSH bands and the Jaccard bar a
# candidate must verify at; the batch path's (``operators.dedup``) values
_N, _K, _BANDS, _THRESHOLD = 3, 12, 4, 0.5


def _read_state(spark: SparkSession, path: str, schema: str) -> DataFrame:
    # Existence is probed with os.path, which is local/POSIX only — a
    # URI-scheme state_dir would silently read empty state every batch
    # and admit every cross-batch duplicate (same failure mode as the
    # xlsx datasource's driver-side glob, ADVICE r4).  Fail fast instead;
    # object-store state belongs on a lakehouse table (module docstring).
    if "://" in path:
        raise ValueError(
            f"state path {path!r} has a URI scheme — the parquet-directory "
            "state store is local-filesystem only; use a lakehouse table "
            "for object-store state"
        )
    if os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    ):
        return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame([], schema)


def ingest_batch_neardup(batch: DataFrame, state_dir: str) -> DataFrame:
    """Admit one batch of documents against the accumulated state.

    Returns the decision frame ``(doc_id, is_neardup, matched_id,
    n_matches)`` — ``matched_id`` is the smallest verified witness (earlier
    arrival, or smaller same-batch id), null for admitted docs.  Appends
    this batch's bands and shingle postings to ``state_dir`` AFTER the
    decisions are computed (the decisions must not see the batch's own
    state rows except via the explicit within-batch probe).

    The caller owns triggering: this is a plain batch function.
    """
    spark = batch.sparkSession
    bands_path = os.path.join(state_dir, "bands")
    post_path = os.path.join(state_dir, "postings")

    posts_b, bands_b = _batch_state(batch)
    state_bands = _read_state(
        spark, bands_path, "id long, band int, band_key string"
    )
    state_posts = _read_state(spark, post_path, "id long, sh string")
    decisions = _neardup_decisions(
        batch, posts_b, bands_b, state_bands, state_posts, post_path
    )
    # Postings FIRST, bands second: the two appends are not one atomic
    # commit, and the failure modes are asymmetric.  Bands-without-postings
    # creates witnesses that can never verify (silent under-flag — now also
    # caught by the orphan guard above); postings-without-bands merely makes
    # the batch invisible as a witness, indistinguishable from the append
    # having failed entirely — the caller sees the exception and retries the
    # batch, which is the documented at-least-once contract.
    posts_b.select("id", "sh").write.mode("append").parquet(post_path)
    bands_b.write.mode("append").parquet(bands_path)
    return decisions


def _batch_state(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The batch's checkpointed shingle postings and LSH band rows."""
    posts_b = posting_lists(batch, _N).localCheckpoint()
    sigs_b = minhash_signatures(posts_b, k=_K)
    return posts_b, band_rows(sigs_b, k=_K, bands=_BANDS).localCheckpoint()


def _neardup_decisions(
    batch: DataFrame,
    posts_b: DataFrame,
    bands_b: DataFrame,
    state_bands: DataFrame,
    state_posts: DataFrame,
    state_label: str,
) -> DataFrame:
    """The admission computation, backend-agnostic: decisions for
    ``batch`` given its banded signature/posting frames and the
    ACCUMULATED state frames — shared verbatim by the parquet-directory
    store and the mtable (ACID) store so the two backends cannot drift."""
    cross = (
        bands_b.alias("nw")
        .join(
            state_bands.alias("st"),
            (F.col("nw.band") == F.col("st.band"))
            & (F.col("nw.band_key") == F.col("st.band_key"))
            # A replayed batch (at-least-once retry AFTER its state append
            # landed) finds its own ids in the store — a self-pair would
            # flag every replayed doc as a duplicate of itself.
            & (F.col("nw.id") != F.col("st.id")),
        )
        .select(F.col("nw.id").alias("cand"), F.col("st.id").alias("witness"))
    )
    within = (
        bands_b.alias("a")
        .join(
            bands_b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") > F.col("b.id")),
        )
        .select(F.col("a.id").alias("cand"), F.col("b.id").alias("witness"))
    )
    # Materialized: the candidate set feeds both the witness-id semi-join
    # and the intersection join — without the cut the probe joins (the
    # batch's most expensive stage) execute once per consumer.
    candidates = cross.unionByName(within).distinct().localCheckpoint()

    cand_posts = posts_b.select("id", "sh")
    # Bound the verification work by the CANDIDATE set, not the store:
    # semi-join the accumulated postings down to actual witness ids first,
    # THEN dedupe (the retry-safety distinct) and count — per batch this
    # is O(candidate postings), never O(all postings ever ingested).
    wit_ids = candidates.select(F.col("witness").alias("id")).distinct()
    wit_posts = (
        state_posts.join(wit_ids, "id", "left_semi")
        # a replayed batch's ids are already in the store: the batch side
        # below must be their only posting source, or sizes double
        .join(posts_b.select("id").distinct(), "id", "left_anti")
        .distinct()  # a replayed state append must not double-count
        .unionByName(posts_b.select("id", "sh"))
    )
    # State-integrity guard (ADVICE r5): every banded doc had >=1 shingle
    # posting when its bands were written (zero-shingle docs produce no
    # signature, hence no bands), so a band witness with NO postings means
    # the state is corrupted — e.g. a caller swallowed a partial append.
    # Silently dropping such a witness would ADMIT a true near-duplicate
    # (under-flag, the unsafe direction); fail loudly instead.  The check
    # is candidate-bounded: one anti-join over the witness ids only.
    orphans = [
        r[0]
        for r in wit_ids.join(
            wit_posts.select("id").distinct(), "id", "left_anti"
        )
        .limit(5)
        .collect()
    ]
    if orphans:
        raise RuntimeError(
            f"near-dup state corrupted: band witnesses {orphans} have no "
            f"shingle postings under {state_label!r} — a prior state append "
            "was partial; restore the state directory or re-ingest"
        )
    sizes_c = cand_posts.groupBy("id").agg(F.count(F.lit(1)).alias("n_c"))
    sizes_w = wit_posts.groupBy("id").agg(F.count(F.lit(1)).alias("n_w"))
    inter = (
        candidates.join(
            cand_posts.select(
                F.col("id").alias("cand"), F.col("sh").alias("sh_c")
            ),
            "cand",
        )
        .join(
            wit_posts.select(
                F.col("id").alias("__wid"), F.col("sh").alias("sh_w")
            ),
            (F.col("witness") == F.col("__wid")) & (F.col("sh_c") == F.col("sh_w")),
        )
        .groupBy("cand", "witness")
        .agg(F.count(F.lit(1)).alias("n_i"))
    )
    verified = (
        inter.join(sizes_c.withColumnRenamed("id", "cand"), "cand")
        .join(sizes_w.withColumnRenamed("id", "witness"), "witness")
        .where(
            F.col("n_i").cast("double")
            / (F.col("n_c") + F.col("n_w") - F.col("n_i"))
            >= F.lit(_THRESHOLD)
        )
    )
    matches = verified.groupBy("cand").agg(
        F.min("witness").alias("matched_id"),
        F.count(F.lit(1)).alias("n_matches"),
    )
    decisions = (
        batch.select("doc_id")
        .join(matches.withColumnRenamed("cand", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("matched_id").isNotNull().alias("is_neardup"),
            "matched_id",
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
        )
        .localCheckpoint()
    )
    return decisions


def ingest_batch_neardup_mtable(
    batch: DataFrame,
    state_tbl,
    batch_id: int,
) -> DataFrame:
    """The lakehouse-backed admission the module docstring promises: same
    decision computation as :func:`ingest_batch_neardup`, but the state is
    ONE :class:`~..sources.mtable.MTable` partitioned by ``kind``
    ('band' | 'post'), so a batch's bands and postings land in ONE atomic
    manifest commit — the asymmetric partial-append window (and its orphan
    guard's reason to exist) disappears, and the store is object-store
    safe (no POSIX existence probes).

    EXACTLY-ONCE by construction: the commit carries
    ``extra_meta={"neardup_batch": batch_id}``.  A replayed batch id is
    detected in the retained manifests and re-answered AGAINST THE
    PRE-BATCH SNAPSHOT via time travel (``read(version=v-1)``) — the
    ORIGINAL decisions, bit-identical, with no second state append.  That
    retires the directory backend's documented over-flag caveat: replay
    here cannot see the batch's own state rows.  Replay detection reaches
    as far back as vacuum retains manifests (the same horizon as every
    ledger here); a consumer driving this from a change feed gets
    end-to-end exactly-once with zero extra machinery.

    Scale shape identical to the directory backend, plus the mtable
    partition map prunes the state read per kind manifest-side."""
    spark = batch.sparkSession
    band_schema = "id long, band int, band_key string"
    post_schema = "id long, sh string"

    # replay probe: the retained manifest trail IS the ledger.  Batch ids
    # commit in INCREASING order (single-writer stream; a change-feed
    # consumer passes its monotone v_to), so the newest-first walk stops at
    # the first ledger-bearing manifest whose id falls at-or-below
    # batch_id — the common not-a-replay case reads ONE manifest, keeping
    # long-lived ingestion O(1) metadata per batch instead of O(commits).
    replay_v = None
    for v in reversed(state_tbl.versions()):
        b = (state_tbl._read_manifest_raw(v).get("meta") or {}).get(
            "neardup_batch"
        )
        if b is None:
            continue  # interleaved non-stream commit (compaction, backfill)
        if b == batch_id:
            replay_v = v
        if b <= batch_id:
            break

    def _kind(version, kind, schema):
        if version == 0:
            return spark.createDataFrame([], schema)
        df = state_tbl.read(version=version, partitions=[kind])
        if df is None:
            return spark.createDataFrame([], schema)
        cols = [f.split(" ")[0] for f in schema.split(", ")]
        return df.select(*cols)

    cur = state_tbl._latest()
    state_v = (replay_v - 1) if replay_v is not None else (cur[0] if cur else 0)

    posts_b, bands_b = _batch_state(batch)
    decisions = _neardup_decisions(
        batch, posts_b, bands_b,
        _kind(state_v, "band", band_schema),
        _kind(state_v, "post", post_schema),
        state_tbl.path,
    )
    if replay_v is None:
        state_rows = bands_b.select(
            F.lit("band").alias("kind"), "id", "band", "band_key",
            F.lit(None).cast("string").alias("sh"),
        ).unionByName(
            posts_b.select(
                F.lit("post").alias("kind"), "id",
                F.lit(None).cast("int").alias("band"),
                F.lit(None).cast("string").alias("band_key"), "sh",
            )
        )
        state_tbl.write(
            state_rows,
            mode="append",
            partition_by="kind",
            extra_meta={"neardup_batch": batch_id},
        )
    return decisions


"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (its data is keyed retail rows), but a core
capability of this engine's extension surface (BASELINE.json north star:
"add the LLM-data-pipeline operators ... designed for 100 TB").

Four families, each chosen for a different scale/recall tradeoff:

- **exact**: hash-groupBy on content digest.  One shuffle on the digest (not
  the document body — only the 32-byte hash moves in the exchange key).
- **MinHash + LSH banding**: shingle -> k minhashes -> b bands of r rows ->
  band-bucket self-join -> exact-Jaccard verification of candidates.  The
  classic near-dup path: candidate generation is O(docs x bands) with tiny
  keys, and the quadratic blowup is confined to hash-bucket collisions.
- **inverted-index exact Jaccard**: shared-shingle candidate join (posting
  lists), then exact Jaccard.  Recall-exact baseline; at 100 TB you cap
  posting-list length (drop shingles with document frequency > max_df, the
  standard trick) — parameterized here.
- **SimHash**: per-word hash bits weighted by term frequency -> 32-bit
  signature; near-dups = small Hamming distance, candidates via 8-bit
  signature bands.

All hashing is md5-based so the DuckDB differential oracle reproduces results
bit-for-bit; swap hash_fn for xxhash64 on real clusters (documented).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    HEX_DIGITS,
    minhash_component,
    minhash_hash_pairs,
    shingles,
    words,
)

__all__ = [
    "spread_compute",
    "dedup_exact",
    "shingle_docs",
    "posting_lists",
    "minhash_signatures",
    "band_rows",
    "jaccard_pairs_exact",
    "containment_pairs",
    "repeated_ngram_spans",
    "remove_repeated_ngram_spans",
    "merge_positions_to_spans",
    "apply_span_removal",
    "simhash_signatures",
    "simhash_pairs",
    "connected_components",
]


def spread_compute(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the scan is under-partitioned.  Digest
    stages (shingle md5, simhash word hashing) are COMPUTE-bound: AQE sizes
    partitions by bytes, so a small single-row-group parquet file leaves the
    whole md5 pipeline on one core.  Row-count spreading costs one tiny
    shuffle of the raw docs and parallelizes everything downstream (same
    lesson as the repartition-before-Levenshtein stage, see
    q_dedup_edit_distance).

    Quarter-width, not full-width: these stages are short, and explicit
    repartition counts are exempt from AQE coalescing, so every downstream
    stage inherits the width — at full core count the task-launch overhead
    of ~8 skinny stages exceeded the compute (measured 1.8s vs 1.4s at
    sf0.1).  On a real cluster a large input arrives already partitioned
    and this path never fires."""
    target = max(2, df.sparkSession.sparkContext.defaultParallelism // 4)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def shingle_docs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingle-set) projection — compute ONCE and pass to the signature
    / candidate / verification stages (shingling + md5 dominate the pipeline;
    recomputing it per stage tripled the wall time in bench).  Callers
    should ``.persist()`` this when feeding multiple consumers."""
    return spread_compute(docs).select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("__sh")
    ).where(F.size("__sh") > 0)


def posting_lists(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """``(id, sh, h1, h2)``: one exploded row per distinct shingle, ONE md5
    per shingle, hex halves as 56-bit longs (Kirsch-Mitzenmacher bases).

    This is the single cacheable artifact of the minhash pipeline — skinny
    long/short-string rows that sizes, signatures, LSH candidates AND the
    exact-Jaccard verification all consume.  Persisting this instead of the
    per-doc shingle *arrays* cut the flagship dedup wall time ~2x: columnar
    caching of large string arrays was the hidden cost, and the k signature
    components become a map-side-combinable ``groupBy(id).agg(min(...))``
    instead of array arithmetic behind an extra checkpoint.
    """
    return (
        spread_compute(docs)
        .select(
            F.col(id_col).alias("id"),
            F.explode(shingles(F.col(text_col), n)).alias("sh"),
        )
        .withColumn("__d", F.md5("sh"))
        .select(
            "id",
            "sh",
            F.conv(F.substring("__d", 1, 14), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring("__d", 15, 14), 16, 10).cast("long").alias("h2"),
        )
    )


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup groups: content digest -> canonical (min) id + copy count."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df: int = 20,
    thr_num: int = 4,
    thr_den: int = 5,
    cache_scope: str | None = None,
) -> DataFrame:
    """Asymmetric shingle-containment near-dup pairs: directed ``(inner,
    outer)`` rows where ``C(inner -> outer) = |S(inner) ∩ S(outer)| /
    |S(inner)| >= thr_num/thr_den`` over the RARE-shingle subspace
    (corpus document frequency <= ``max_df``).

    Containment is the dedup measure Jaccard-based MinHash structurally
    misses: a small document pasted inside a much larger one has Jaccard
    ~ |small|/|large| (arbitrarily low — LSH bands never collide) but
    containment ~ 1.0.  Broder's original resemblance/containment split;
    no analogue in the reference (pandas rows, ``/root/reference/jobs``).

    The ``max_df`` cap serves double duty: it bounds the posting-list
    self-join exactly like ``jaccard_pairs_exact`` (no quadratic blowup on
    boilerplate shingles shared by thousands of docs), and it makes the
    measure boilerplate-insensitive — a shared navigation header should
    not make every page "contained" in every other.  Restricting BOTH the
    overlap numerator and the |S(inner)| denominator to rare shingles
    keeps the ratio a true containment over that subspace (docs whose
    shingles are all-frequent drop out rather than divide by zero).

    Scale shape: the (id, digest) rare-posting table is the pipeline's one
    expensive artifact — shingle + md5 + a map-side-combinable df rollup +
    the digest semi-join — and it feeds FOUR consumers (both overlap-join
    sides and both size lookups).  Spark does not common-subexpression
    duplicate DataFrame subtrees, so without persistence the shingle pass
    runs four times (plan-verified); pass ``cache_scope`` to persist it
    once (the simhash_pairs session-registry pattern: scoped eviction,
    replace-on-re-entry).  The overlap self-join keys on the digest both
    sides are already hash-partitioned by, and the (inner, outer) rollup
    plus the two size joins move only id/long rows bounded by
    O(rare-postings x max_df).  Threshold compares as integers
    (``overlap * thr_den >= n_inner * thr_num``); the reported ratio is a
    single long/long IEEE division — bit-identical across engines.
    """
    post = (
        shingle_docs(docs, text_col, id_col, n)
        .select("id", F.explode("__sh").alias("sh"))
        .select("id", F.md5("sh").alias("shd"))
    )
    # df cap via partial-aggregable groupBy + semi-join, NOT a count window:
    # a boilerplate shingle shared by millions of docs would form one
    # window partition a single task must buffer just to discard, while the
    # groupBy collapses it map-side to one (digest, count) row — the skew
    # the cap exists to defuse must not be paid computing the cap (same
    # shape as jaccard_pairs_exact's max_df guard).
    dfreq = post.groupBy("shd").agg(F.count(F.lit(1)).cast("long").alias("__df"))
    rare = post.join(
        dfreq.where(F.col("__df") <= max_df).select("shd"), "shd", "left_semi"
    )
    if cache_scope is not None:
        from pyspark import StorageLevel

        from ._cache import register_persisted

        rare = rare.persist(StorageLevel.MEMORY_AND_DISK)
        register_persisted(rare, ("containment_rare", cache_scope))
    ov = (
        rare.select(F.col("id").alias("doc_inner"), "shd")
        .join(rare.select(F.col("id").alias("doc_outer"), "shd"), "shd")
        .where(F.col("doc_inner") != F.col("doc_outer"))
        .groupBy("doc_inner", "doc_outer")
        .agg(F.count(F.lit(1)).cast("long").alias("overlap"))
    )
    rsz = rare.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("n_rare"))
    return (
        ov.join(
            rsz.select(F.col("id").alias("doc_inner"), F.col("n_rare").alias("n_inner")),
            "doc_inner",
        )
        .join(
            rsz.select(F.col("id").alias("doc_outer"), F.col("n_rare").alias("n_outer")),
            "doc_outer",
        )
        .where(F.col("overlap") * thr_den >= F.col("n_inner") * thr_num)
        .select(
            "doc_inner",
            "doc_outer",
            "overlap",
            "n_inner",
            "n_outer",
            (F.col("overlap").cast("double") / F.col("n_inner").cast("double")).alias(
                "containment"
            ),
        )
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 12,
    shingled: DataFrame | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """doc -> k-component MinHash signature over word n-gram shingles.

    Preferred input: ``postings`` (from :func:`posting_lists`, persisted) —
    the k components are then ONE ``groupBy(id).agg(min(h1 + (i+1)*h2))``,
    partially aggregated map-side before the (tiny) shuffle.  The legacy
    ``shingled`` array path computes the same values via array arithmetic
    (``functions.text.minhash_hash_pairs`` — one md5 per shingle either way).
    """
    if postings is not None:
        return postings.groupBy(F.col("id").alias(id_col)).agg(
            *[
                F.min(F.col("h1") + F.lit(s + 1) * F.col("h2")).alias(f"h{s}")
                for s in range(k)
            ]
        )
    d = shingled if shingled is not None else shingle_docs(docs, text_col, id_col, n)
    d = d.withColumn("__mh", minhash_hash_pairs(F.col("__sh")))
    return d.select(
        F.col("id").alias(id_col),
        *[minhash_component(F.col("__mh"), s).alias(f"h{s}") for s in range(k)],
    )


def band_rows(
    sigs: DataFrame, id_col: str = "doc_id", k: int = 12, bands: int = 4
) -> DataFrame:
    """Signature table -> ``(id, band, band_key)`` LSH band rows via a
    single explode — the streaming ingest probe joins new-batch bands
    against an accumulated band store instead of self-joining."""
    r = k // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|", *[F.col(f"h{b * r + i}") for i in range(r)]
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select(
        F.col(id_col).alias("id"), F.explode(band_structs).alias("__bb")
    ).select("id", F.col("__bb.band").alias("band"), F.col("__bb.band_key").alias("band_key"))


def jaccard_pairs_exact(
    docs: DataFrame,
    candidates: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    shingled: DataFrame | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs.

    ``candidates=None`` -> inverted-index candidates: explode distinct
    shingles, self-join the posting lists (pairs sharing >= 1 shingle).
    ``max_df`` caps posting-list length (drop ubiquitous shingles) — the
    standard scale guard against quadratic hot posting lists.

    Preferred input: ``postings`` (from :func:`posting_lists`, persisted) —
    sizes and intersections derive from the same skinny cached rows.

    Jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|) over integer counts —
    engine-exact arithmetic.
    """
    if postings is not None:
        sizes = postings.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
        postings = postings.select("id", "sh")
    else:
        d = shingled if shingled is not None else shingle_docs(docs, text_col, id_col, n)
        sizes = d.select(F.col("id"), F.size("__sh").alias("n_sh"))
        postings = d.select(F.col("id"), F.explode("__sh").alias("sh"))
    if max_df is not None:
        keep = (
            postings.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_df)
            .select("sh")
        )
        postings = postings.join(keep, "sh")

    if candidates is None:
        a = postings.alias("a")
        b = postings.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_int"))
        )
    else:
        # verify only the candidate pairs: explode each side's shingles and
        # count matches (candidate set is small by construction)
        pa = postings.select(F.col("id").alias("doc_a"), F.col("sh"))
        pb = postings.select(F.col("id").alias("doc_b"), F.col("sh"))
        inter = (
            candidates.join(pa, "doc_a")
            .join(pb, ["doc_b", "sh"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_int"))
        )

    sa = sizes.withColumnsRenamed({"id": "doc_a", "n_sh": "n_a"})
    sb = sizes.withColumnsRenamed({"id": "doc_b", "n_sh": "n_b"})
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_int").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_int")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


# --- SimHash ---------------------------------------------------------------

SIMHASH_BITS = 32


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """32-bit SimHash over the word multiset (term frequency weighted).

    Per word: first 8 hex chars of md5 -> 32 bits.  Per bit position j:
    sum over word occurrences of (bit ? +1 : -1); signature bit = sign.
    Output: (id, simhash) with simhash a 32-char '0'/'1' string — a
    representation both engines produce identically.

    Plan shape: explode words -> 32 conditional sums in ONE groupBy —
    partial aggregation map-side, a single shuffle on the doc id.
    """
    w = (
        spread_compute(docs)
        .select(F.col(id_col), F.explode(words(F.col(text_col))).alias("__w"))
        # parse the 8 hex chars ONCE into a 32-bit integer; each of the 32
        # per-bit aggregates is then a shift+mask on that long instead of a
        # substring+instr string scan (32 string ops per word occurrence
        # was the dominant cost of the signature pass).
        .withColumn(
            "__v", F.conv(F.substring(F.md5("__w"), 1, 8), 16, 10).cast("long")
        )
    )
    aggs = []
    for j in range(SIMHASH_BITS):
        # bit j = MSB-first bit of the 32-bit value (identical to the old
        # per-hex-digit extraction: digit j//4, high bit first in digit).
        bit = F.shiftright(F.col("__v"), SIMHASH_BITS - 1 - j) % 2
        aggs.append(
            F.sum(F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1))).alias(f"b{j}")
        )
    sums = w.groupBy(id_col).agg(*aggs)
    sig = F.concat(
        *[F.when(F.col(f"b{j}") > 0, F.lit("1")).otherwise(F.lit("0")) for j in range(SIMHASH_BITS)]
    )
    return sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 6,
    bands: int = 4,
    cache_scope: str | None = None,
) -> DataFrame:
    """Near-dup pairs by Hamming distance over SimHash signatures.

    Candidates: split the 32-bit signature into ``bands`` bands; any exact
    band match -> candidate (guarantees recall for hamming <= bands-1 by
    pigeonhole, probabilistic beyond).  Then exact Hamming filter.

    Scale shape: the band rows come from ONE explode over the signature
    table (not a bands-way union, which would re-run the signature
    aggregation per band), and with ``cache_scope`` set the signature table
    is persisted before the self-join so the explode-words + 32-sum pass
    runs once, not once per join side (registered on the session keyed by
    ("simhash_sigs", cache_scope) for scoped eviction, replace-on-re-entry
    — the kmeans_cells pattern).  The Hamming filter is
    ``bit_count(sig_a XOR sig_b)`` on the parsed 32-bit values — one
    integer op per candidate instead of 32 per-character compares.
    """
    width = SIMHASH_BITS // bands
    if cache_scope is not None:
        from pyspark import StorageLevel

        from ._cache import register_persisted

        sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
        register_persisted(sigs, ("simhash_sigs", cache_scope))
    band_rows = sigs.select(
        F.col(id_col).alias("id"),
        F.col("simhash").alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.substring("simhash", b * width + 1, width).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__bk"),
    ).select("id", "sig", F.col("__bk.band").alias("band"), F.col("__bk.band_key").alias("band_key"))
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    ham = F.bit_count(
        F.conv(F.col("sig_a"), 2, 10)
        .cast("long")
        .bitwiseXOR(F.conv(F.col("sig_b"), 2, 10).cast("long"))
    )
    return (
        cand.withColumn("hamming", ham.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    algorithm: str = "propagation",
) -> DataFrame:
    """Cluster the near-dup pair graph: (id, cluster_id) with cluster_id =
    the minimum id reachable through the undirected edge set.

    Two engines behind one interface (select with ``algorithm``):

    - ``"propagation"`` (default): each round every vertex takes the min of
      its own label and its neighbors' labels; converges in O(graph
      diameter) rounds (near-dup clusters are shallow — single-digit rounds
      in practice).  Each round is one join + one partial-aggregating
      groupBy, both shuffling only (id, label) longs.
    - ``"star"``: the large-star/small-star rewrite (Kiveris et al.,
      "Connected Components in MapReduce and Beyond", SoCC'14) — each round
      rewires edges toward per-neighborhood minima, halving component
      diameter, so rounds are O(log^2 n) EVEN on adversarial chain graphs
      where propagation needs O(n) rounds (tests/test_dedup_similarity.py
      asserts the round counts on a path graph).

    Both loops ``localCheckpoint`` per round so the plan stays O(1) per
    round instead of growing exponentially, and the driver reads ONE scalar
    per round (changed-count / edge-set fingerprint) — the data never
    leaves the cluster.  The returned DataFrame carries the round count as
    ``df._cc_rounds`` for observability.

    The dedup use: group mutually-similar documents, keep
    ``cluster_id == id`` as the canonical survivor.
    """
    if algorithm == "star":
        return _cc_star(pairs, a_col, b_col, max_iter)
    if algorithm != "propagation":
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    # Materialize the edge set ONCE — it is consumed every round, and an
    # unmaterialized lineage would re-execute the whole upstream pipeline
    # (shingle -> minhash -> verify) per iteration.
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    rounds = 0
    for _round in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["src"] == labels["id"])
            .select(F.col("dst").alias("id"), F.col("label"))
            .unionByName(labels)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        # r14 NOTE (measured rejection, guide §1): making this checkpoint
        # LAZY so the changed-count aggregate's job materializes it (one
        # driver barrier per round instead of two) measured a wash —
        # run-1 job wall-sum 5.67 s lazy vs 5.34 s eager, 37 vs 39 jobs
        # (plans/r14/cc_lazy_checkpoint_ab.txt).  The per-round cost is
        # the 32-task stages over the small label frame (per-task launch
        # overhead), not the job submissions; merging barriers moves the
        # wall between job labels without removing it.  Kept eager.
        merged = (
            neighbor_min.alias("n")
            .join(labels.alias("o"), "id")
            .select(
                "id",
                F.col("n.label").alias("label"),
                (F.col("n.label") < F.col("o.label")).cast("long").alias("__chg"),
            )
        ).localCheckpoint()
        changed = merged.agg(F.sum("__chg")).collect()[0][0]
        labels = merged.select("id", "label")
        rounds = _round + 1
        if not changed:
            break
    out = labels.select(F.col("id"), F.col("label").alias("cluster_id"))
    out._cc_rounds = rounds
    return out


def _cc_star(pairs: DataFrame, a_col: str, b_col: str, max_iter: int) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al., SoCC'14).

    Each round: LARGE-STAR links every neighbor larger than u to u's
    neighborhood minimum; SMALL-STAR re-points u and its not-larger
    neighbors at that minimum.  Alternating the two contracts component
    diameter geometrically, so chains converge in O(log^2 n) rounds.  All
    shuffles carry (long, long) edges; convergence is detected by testing
    the star-forest property directly (every child one parent, no parent
    itself a child) — the property holds exactly at the fixpoint, so the
    loop stops the round it is reached instead of paying a no-op round
    for an edge-set-compare to notice.  One scalar row per round to the
    driver, like the propagation loop's changed-counter.

    At the fixpoint the edge set is a star forest (child -> component min),
    so labels read off directly; roots (minima) label themselves.
    """
    # Materialize the raw pair projection ONCE: edges and nodes both
    # derive from it, and checkpointing each separately executed the whole
    # upstream candidate pipeline (shingle -> minhash -> verify) twice —
    # that double execution, not the star rounds, was most of the
    # star-vs-propagation gap on the bench graph.
    raw = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")).localCheckpoint()
    edges = raw.where(F.col("u") != F.col("v")).distinct().localCheckpoint()
    # Node set from the UNFILTERED pairs: a doc appearing only in a
    # degenerate self-pair (u == v) has no surviving edge but must still
    # self-label, matching the propagation engine whose symmetrized edge
    # set keeps src == dst rows (ADVICE r3).  Lazy — read from the raw
    # checkpoint once, at the final left-anti.
    nodes = (
        raw.select(F.col("u").alias("id"))
        .unionByName(raw.select(F.col("v").alias("id")))
        .distinct()
    )

    # Neighborhood minimum as an unordered window over the edge list itself
    # (min(v) OVER (PARTITION BY u), floored with u): ONE exchange + one
    # WindowExec per star step, versus the groupBy + re-join form that scans
    # the edge frame twice and pays the aggregate exchange AND the join —
    # measured 3.8 -> 2.8 s/run on the bench clusters query.  Skew class is
    # unchanged: a whale node concentrates its edges in one partition under
    # either formulation.
    w_u = Window.partitionBy("u")

    def large_star(e: DataFrame) -> DataFrame:
        # No trailing distinct: the only consumer is small_star's window
        # min, which is duplicate-insensitive — dropping it saves one
        # (u, v) exchange per round; small_star's distinct dedups the
        # round's output once.
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = F.least(F.min("v").over(w_u), F.col("u"))
        return (
            sym.withColumn("m", m)
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        o = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        m = F.least(F.min("v").over(w_u), F.col("u"))
        return (
            o.withColumn("m", m)
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("s"), F.col("m").alias("d")),
                        F.struct(F.col("u").alias("s"), F.col("m").alias("d")),
                    )
                ).alias("__e")
            )
            .select(F.col("__e.s").alias("u"), F.col("__e.d").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def is_star_forest(e: DataFrame) -> bool:
        # The star rounds reach their fixpoint exactly when the (child >
        # parent)-oriented edge set is a star forest: every child has ONE
        # parent and no parent is itself a child.  Testing that property
        # directly stops the loop the moment it holds — the fingerprint
        # formulation (compare edge-set hash to last round's) only detects
        # convergence AFTER paying one full no-op star round.  One
        # grouped aggregate over (id tagged child/parent), one scalar to
        # the driver.
        bad = (
            e.select(F.col("u").alias("id"), F.col("v").alias("pv"), F.lit(1).alias("c"))
            .unionByName(
                e.select(F.col("v").alias("id"), F.lit(None).cast("long").alias("pv"), F.lit(0).alias("c"))
            )
            .groupBy("id")
            .agg(
                F.max("c").alias("is_child"),
                F.min("c").alias("min_c"),
                F.count_distinct("pv").alias("n_parents"),
            )
            .where(
                (F.col("n_parents") > 1)
                | ((F.col("is_child") == 1) & (F.col("min_c") == 0))
            )
            .limit(1)
        )
        return not bad.take(1)

    rounds = 0
    for i in range(max_iter):
        edges = small_star(large_star(edges)).localCheckpoint()
        rounds = i + 1
        if is_star_forest(edges):
            break

    lab = edges.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("cluster_id"))
    roots = nodes.join(lab, "id", "left_anti").select(
        "id", F.col("id").alias("cluster_id")
    )
    out = lab.unionByName(roots)
    out._cc_rounds = rounds
    return out


def _position_ngrams(
    docs: DataFrame, n: int, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """(base, grams): base = (doc_id, ws, n_tokens); grams = one row per
    token position (doc_id, s, gram) with gram = md5 of the n-token window
    starting at 1-based position s."""
    ws = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col).alias("doc_id"), ws.alias("ws")
    ).withColumn("n_tokens", F.size("ws").cast("long"))
    gram_arr = F.when(
        F.size("ws") >= n,
        F.expr(
            f"transform(sequence(1, size(ws)-{n}+1),"
            f" i -> md5(array_join(slice(ws, i, {n}), ' ')))"
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))
    grams = base.select(
        "doc_id", F.posexplode(gram_arr).alias("off", "gram")
    ).select("doc_id", (F.col("off") + 1).alias("s"), "gram")
    return base, grams


def merge_positions_to_spans(dup: DataFrame, n: int) -> DataFrame:
    """(doc_id, s) duplicate positions -> (doc_id, st, en) maximal merged
    spans (each position covers tokens [s, s+n-1]); the classic island
    merge as one per-document window pass."""
    spans = dup.select("doc_id", "s", (F.col("s") + n - 1).alias("e"))
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_max = F.max("e").over(w_prev)
    return (
        spans.withColumn(
            "ni",
            (prev_max.isNull() | (F.col("s") > prev_max)).cast("long"),
        )
        .withColumn("island", F.sum("ni").over(w_run))
        .groupBy("doc_id", "island")
        .agg(F.min("s").alias("st"), F.max("e").alias("en"))
        .select("doc_id", "st", "en")
    )


def apply_span_removal(base: DataFrame, spans: DataFrame) -> DataFrame:
    """Rewrite (doc_id, ws, n_tokens) with the (doc_id, st, en) spans
    removed -> (doc_id, n_tokens, kept_tokens, clean_text); pure
    higher-order-function codegen over a small per-doc span array."""
    spans_arr = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("st", "en")).alias("spans")
    )
    kept = F.expr(
        "filter(transform(ws, (w, i) -> struct(w AS w, i + 1 AS p)),"
        " x -> spans IS NULL OR"
        " NOT exists(spans, sp -> x.p >= sp.st AND x.p <= sp.en))"
    )
    return (
        base.join(spans_arr, "doc_id", "left")
        .withColumn("__kept", kept)
        .select(
            "doc_id",
            "n_tokens",
            F.size("__kept").cast("long").alias("kept_tokens"),
            F.array_join(
                F.expr("transform(__kept, x -> x.w)"), " "
            ).alias("clean_text"),
        )
    )


def _dup_span_frames(
    docs: DataFrame, n: int, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """(base, spans): base = (doc_id, ws, n_tokens) for every doc; spans =
    (doc_id, st, en) maximal merged token spans whose n-grams occur more
    than once corpus-wide.  Shared engine for the audit and removal ops —
    see repeated_ngram_spans for the scale rationale (map-side gram count,
    AQE-splittable shuffle-hash join, per-doc island window)."""
    base, grams = _position_ngrams(docs, n, text_col, id_col)
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 1)
        .select("gram")
    )
    dup = grams.join(dup_grams.hint("shuffle_hash"), "gram").select("doc_id", "s")
    return base, merge_positions_to_spans(dup, n)
def repeated_ngram_spans(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-level exact dedup statistics (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): mark every
    token position whose n-gram occurs MORE THAN ONCE corpus-wide
    (including self-repetition within one document), merge the per-document
    duplicate positions into maximal overlapping spans, and report
    ``(doc_id, n_tokens, n_dup_spans, dup_tokens, dup_ratio)`` for EVERY
    document — the "what would substring dedup remove" audit that document-
    level MinHash/SimHash/containment structurally cannot see (a paragraph
    pasted into otherwise-unique docs never clears a whole-doc threshold).

    Scale shape: n-grams are md5'd to fixed-width keys; occurrence counting
    is a map-side-combinable groupBy (NOT a count-over-gram window — a
    boilerplate gram shared by 10^9 positions would make a window partition
    a one-task whale, while groupBy partials collapse it before the
    shuffle) followed by a shuffle-hash join that AQE's skew-join splitting
    can rebalance; span merging is a per-document window (entity-scale
    partitioning).  Exactly two data exchanges: gram-keyed, then
    doc-keyed.  All span arithmetic is integer-exact; the single division
    per doc is exact-input IEEE.
    """
    base, spans = _dup_span_frames(docs, n, text_col, id_col)
    islands = (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_spans"),
            F.sum(F.col("en") - F.col("st") + 1).alias("dup_tokens"),
        )
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(islands, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            (
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("dup_ratio"),
        )
    )


def remove_repeated_ngram_spans(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The actionable half of substring dedup: REWRITE every document with
    its corpus-duplicated n-gram spans removed — ``(doc_id, n_tokens,
    kept_tokens, clean_text)``.  Every doc survives (a fully-duplicated doc
    keeps an empty text rather than vanishing — the downstream packer
    decides what to drop).

    The rewrite is pure JVM higher-order-function algebra: each doc's few
    merged spans come back as a small array via one per-doc aggregation,
    and ``filter(transform(ws, (w,i) -> ...), not exists(spans, ...))``
    drops covered positions inside whole-stage codegen — no UDF, no
    explode of the token stream, no extra exchange beyond the span
    engine's two."""
    base, spans = _dup_span_frames(docs, n, text_col, id_col)
    return apply_span_removal(base, spans)

"""KMV (k-minimum-values) distinct-value sketches with SET OPERATIONS.

The sketch family's fourth leg (after HLL distinct counts, KLL quantiles,
and frequent-items heavy hitters): HyperLogLog answers "how many distinct
per group" but cannot intersect two groups' sketches; KMV (Bar-Yossef et
al. 2002; Beyer et al., SIGMOD'07 "On Synopses for Distinct-Value
Estimation Under Multiset Operations") keeps the k smallest hash values
per group, and any pair of sketches supports union/intersection/Jaccard
estimation by merging the two k-sets — the standard audience-overlap /
cross-cohort-retention primitive at corpus scale.

Scale shape (the 100 TB plan):

- the raw stream is reduced to DISTINCT (group, hash) first — a map-side
  combinable aggregate, so no group ever ships duplicate values;
- per-group k-smallest is computed as a TWO-LEVEL TOURNAMENT: k smallest
  within each of ``KMV_FANOUT`` salt lanes (parallel, whale-group-safe), then
  k smallest of the <= KMV_FANOUT*k survivors.  A single window over the raw
  group would make a 10^9-distinct whale group one task; the tournament
  bounds every task at the lane's share and the final pass at KMV_FANOUT*k
  rows per group;
- the pairwise stage touches ONLY sketch rows (k per group), never the
  raw data — estimating overlap across G groups costs O(G * k), not a
  self-join of the fact table.

Determinism contract: hashes are ``md5`` of the salted value, 56 bits
(14 hex chars) — a pure function of the data, identical in any engine,
any partitioning, any replay (the same reproducibility convention as the
minhash and sampling-coin families).  Two engines computing this sketch
produce IDENTICAL estimates, so unlike the HLL/KLL legs the estimate
itself is driver-hashable; the error-bound verdict column is still
emitted so the output is self-certifying against the exact leg.

Reference stake: the reference engine has no sketch surface at all — this
extends its aggregate family (SURVEY §2.3) the way a training-data
pipeline at 100 TB needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 56-bit hash: 14 hex chars; (h + 1) / 2^56 maps to (0, 1] with the max
# possible value mapping to exactly 1.0.  Collision odds at k=64 sketches
# are ~k^2/2^57 — negligible, and IDENTICAL in both engines (a collision
# would produce the same wrong-but-equal answer on each side).
_HASH_BITS = 56
_HASH_SPAN = float(2**_HASH_BITS)


# salt lanes of the per-group tournament (see kmv_group_sketch_packed)
KMV_FANOUT = 16


def kmv_hash(col: Column) -> Column:
    """56-bit md5 hash of the salted value — cross-engine deterministic
    (DuckDB equivalent: ``CAST('0x' || substr(md5('kmv#' || v), 1, 14) AS
    BIGINT)``)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("kmv#"), col.cast("string"))), 1, 14), 16, 10
    ).cast("long")


def kmv_group_sketch_packed(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group KMV sketch as ONE PACKED ROW: ``(group_col, hs)`` where
    ``hs`` is the sorted array of the k smallest 56-bit hashes of the
    group's distinct values (<= k elements; groups with fewer than k
    distinct values keep all of them).

    This is the natural output of the aggregation tournament — the final
    per-group aggregate already holds the sorted k-array, and every
    estimator (:func:`kmv_pair_overlap` / :func:`kmv_tuple_overlap`)
    consumes packed arrays.  The tournament is described in the module
    docstring; groups with fewer than k distinct values keep ALL of them,
    so the sketch degrades gracefully to an exact distinct set (and every
    estimator returns exact answers for such groups).  Staying packed
    matters — r14: the overlap query's explode->re-collect round trip was
    one whole exchange plus a distinct-months exchange of pure overhead
    (guide §2.4)."""
    # r13 re-plan (guide §2.3/§2.4): the r11-r12 shape was a distinct
    # groupBy(g, h) exchange followed by TWO window passes (lane
    # row_number, then final row_number) — three exchanges and two full
    # sorts of the distinct stream.  The tournament is an AGGREGATION, not
    # a ranking: per (g, lane) the k smallest distinct hashes are
    # ``slice(array_sort(collect_set(h)), 1, k)`` (collect_set dedupes, so
    # the separate distinct exchange disappears; partial collect_set
    # combines map-side), and because pmod partitions the hash space the
    # lanes are DISJOINT — the final k-of-group is a flatten+sort+slice
    # over <= KMV_FANOUT*k survivors, a fanout-bounded second aggregate.  Two
    # exchanges, zero sorts of the full stream, identical rows out.
    # Whale-group state note: a lane's collect_set holds that lane's
    # distinct share (1/KMV_FANOUT of the group) in task memory — the
    # fanout is the valve, exactly the task-size bound the window
    # tournament had (the window buffered the same lane partition; it
    # spilled where this holds heap).  Size it so distinct/fanout fits
    # comfortably in a task: fanout >= expected_distinct_per_group * 8
    # bytes / (a few hundred MB).  A 1e9-distinct whale group wants 64-128
    # (ADVICE r13 #3); lanes partition the hash space, so ANY fanout yields
    # the identical k-minimum set (the choice moves task memory, never
    # results).
    # NULL-hash filter: NULL values hash to NULL; a (g, NULL) row would
    # waste a sketch slot and diverge from DuckDB's NULLS-LAST ordering.
    hashed = df.select(
        F.col(group_col), kmv_hash(F.col(value_col)).alias("h")
    ).where(F.col("h").isNotNull())
    lanes = hashed.groupBy(
        group_col, F.pmod(F.col("h"), F.lit(KMV_FANOUT)).alias("__lane")
    ).agg(F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("__ks"))
    return lanes.groupBy(group_col).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("__ks"))), 1, k).alias("hs")
    )


def kmv_pair_overlap(
    sketch: DataFrame,
    pairs: DataFrame,
    group_col: str,
    k: int = 64,
) -> DataFrame:
    """Estimate distinct-value UNION, JACCARD, and INTERSECTION sizes for
    every (group_a, group_b) row of ``pairs`` from the groups' packed KMV
    sketches (:func:`kmv_group_sketch_packed`, columns ``(group_col, hs)``)
    alone.

    The Beyer et al. estimators over the combined sketch
    ``K = k-smallest(sketch_a UNION sketch_b)`` (ku = |K| <= k rows):

    - union:     ku < k  -> exact (both sketches were complete sets);
                 else (k - 1) / U(max h in K)  with U(h) = (h+1)/2^56
    - jaccard:   |{h in K : h in sketch_a AND h in sketch_b}| / ku
    - intersect: jaccard * union

    Everything here touches sketch rows only (<= 2k per pair): the merge
    is a window over <= 2k rows per pair and two broadcast-sized joins.
    Output: (group_a, group_b, ku, union_est, jaccard_est, inter_est).
    """
    # Each group's sketch is ONE sorted array row (k longs = ~2 kB at
    # k=256): the pairwise stage is two broadcast joins plus per-row array
    # arithmetic — ZERO additional exchanges, which is the point of a
    # sketch (a row-relational merge would re-shuffle per pair; measured 3x
    # slower on the month-overlap query).
    arr = sketch.select(group_col, "hs")
    joined = pairs.join(
        F.broadcast(
            arr.select(F.col(group_col).alias("group_a"), F.col("hs").alias("ha"))
        ),
        "group_a",
    ).join(
        F.broadcast(
            arr.select(F.col(group_col).alias("group_b"), F.col("hs").alias("hb"))
        ),
        "group_b",
    )
    j = joined.withColumn(
        "mk", F.slice(F.array_sort(F.array_union("ha", "hb")), 1, k)
    )
    ku = F.size("mk")
    hk = F.element_at("mk", ku)
    j = j.select(
        "group_a",
        "group_b",
        ku.alias("__ku"),
        hk.alias("__hk"),
        # common hashes inside the combined sketch (h <= hk, in both sides)
        F.size(
            F.filter(
                F.array_intersect("ha", "hb"),
                lambda x: x <= F.element_at("mk", F.size("mk")),
            )
        ).alias("__nb"),
    )
    unit = (F.col("__hk").cast("double") + F.lit(1.0)) / F.lit(_HASH_SPAN)
    union_est = F.when(
        F.col("__ku") < k, F.col("__ku").cast("double")
    ).otherwise(F.lit(float(k - 1)) / unit)
    jacc = F.col("__nb").cast("double") / F.col("__ku").cast("double")
    return j.select(
        "group_a",
        "group_b",
        F.col("__ku").cast("long").alias("ku"),
        union_est.alias("union_est"),
        jacc.alias("jaccard_est"),
        (jacc * union_est).alias("inter_est"),
    )


def kmv_tuple_overlap(
    sketch: DataFrame,
    tuples: DataFrame,
    group_cols: list[str],
    k: int = 64,
) -> DataFrame:
    """N-WAY distinct-intersection estimate: for every row of ``tuples``
    (columns ``group_cols`` naming n groups), estimate
    ``|distinct(g1) INTERSECT ... INTERSECT distinct(gn)|`` from the KMV
    sketches alone (:func:`kmv_group_sketch_packed`'s ``(group, hs)``
    frame, whose first column names the group) — the k-way generalization
    of :func:`kmv_pair_overlap` (e.g. "customers active in ALL THREE consecutive months", the
    retention-cohort shape).

    Estimator over the combined sketch ``K = k-min(UNION of all n
    sketches)``: ``inter = (|{h in K present in EVERY sketch}| / |K|) *
    union_est`` — set-algebraic, so array_union/array_intersect nesting
    order is immaterial and any engine replays it exactly.  Same shape
    economics as the pair form: n broadcast joins of the packed sketch
    arrays + per-row array math, zero additional exchanges.
    Output: ``group_cols..., ku, union_est, inter_est``.
    """
    if len(group_cols) < 2:
        raise ValueError("tuple overlap needs at least two group columns")
    group_col = sketch.columns[0]
    arr = sketch.select(group_col, "hs")
    j = tuples
    for i, gc in enumerate(group_cols):
        j = j.join(
            F.broadcast(
                arr.select(F.col(group_col).alias(gc), F.col("hs").alias(f"__h{i}"))
            ),
            gc,
        )
    u = F.col("__h0")
    c = F.col("__h0")
    for i in range(1, len(group_cols)):
        u = F.array_union(u, F.col(f"__h{i}"))
        c = F.array_intersect(c, F.col(f"__h{i}"))
    j = j.withColumn("__mk", F.slice(F.array_sort(u), 1, k))
    ku = F.size("__mk")
    hk = F.element_at("__mk", ku)
    j = j.select(
        *group_cols,
        ku.alias("__ku"),
        hk.alias("__hk"),
        F.size(
            F.filter(c, lambda x: x <= F.element_at("__mk", F.size("__mk")))
        ).alias("__nb"),
    )
    unit = (F.col("__hk").cast("double") + F.lit(1.0)) / F.lit(_HASH_SPAN)
    union_est = F.when(
        F.col("__ku") < k, F.col("__ku").cast("double")
    ).otherwise(F.lit(float(k - 1)) / unit)
    inter = (F.col("__nb").cast("double") / F.col("__ku").cast("double")) * union_est
    return j.select(
        *group_cols,
        F.col("__ku").cast("long").alias("ku"),
        union_est.alias("union_est"),
        inter.alias("inter_est"),
    )

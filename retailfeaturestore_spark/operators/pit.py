"""Point-in-time operators: latest-per-group, as-of lookup/join, interval
existence labels (SURVEY.md §2.3 A4, §2.5 J2/J3).

The reference implements these with sorted pandas + per-customer binary
search (``jobs/make_training_and_train.py:26-46``: ``np.searchsorted`` per
feature row; ``jobs/materialize_online.py:19``: stable-sort ``groupby.tail(1)``;
``serving/feature_service.py:36-46``: filter + ``iloc[-1]``).  Here each one
is a single window pass over one shuffle on the entity key — no joins at all
for the self-table forms, and the two-table forms use the union trick (tag +
union + conditional window) instead of a range join, which keeps the work a
plain hash-exchange + sort that AQE can skew-split.  At 100 TB this matters:
a range-predicate join would degrade to a nested-loop explosion per whale
key; the union-window form is O(n log n) per partition, full stop.

Determinism: the reference's latest-per-group relies on pandas stable-sort
file order (an accident — SURVEY.md §7.4.2); every operator here takes an
explicit tiebreak column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.expressions import epoch_us

MICROS = 1_000_000

__all__ = [
    "latest_per_key",
    "asof_snapshot",
    "asof_join",
    "interval_existence_labels",
]


def latest_per_key(
    df: DataFrame, key: str | list[str], order_col: str, tiebreak: str
) -> DataFrame:
    """A4: last snapshot per entity, deterministic.

    ``row_number() over (partition by key order by order_col desc, tiebreak
    desc) = 1`` — replaces the reference's sort + ``groupby.tail(1)``
    (``jobs/materialize_online.py:19``) whose tie resolution is stable-sort
    luck.  One shuffle; with AQE the per-key partial ``row_number`` never
    materializes more than the partition.
    """
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc(), F.col(tiebreak).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def asof_snapshot(
    df: DataFrame, key: str | list[str], ts_col: str, as_of, tiebreak: str
) -> DataFrame:
    """J3: latest row per entity with ``ts <= as_of`` (serving time travel,
    ``serving/feature_service.py:36-46``).  The filter pushes down to the
    scan (partition pruning on date-partitioned gold); then A4."""
    return latest_per_key(
        df.where(F.col(ts_col) <= F.lit(as_of)), key, ts_col, tiebreak
    )


def asof_join(
    spine: DataFrame,
    lookup: DataFrame,
    key: str,
    spine_ts: str,
    lookup_ts: str,
    value_cols: list[str],
    lookup_tiebreak: str,
) -> DataFrame:
    """Batch as-of join: for every spine row, the latest lookup row with
    ``lookup_ts <= spine_ts`` for the same key.

    Union trick: tag both sides, union by key, one event-time-sorted window,
    ONE ``last_value(struct, ignoreNulls)`` carried forward onto spine rows —
    a single struct of all value columns, so the carried values always come
    from the SAME lookup row (carrying columns independently would let an
    older row's stale non-null value leak through a newer row's null).  Equal
    timestamps: lookup rows sort before spine rows, and
    among equal-ts lookup rows the largest ``lookup_tiebreak`` wins (native
    dtype ordering — no lossy cast).

    Scale: ONE shuffle on ``key`` — this is the as-of join formulation that
    survives 1000 executors, vs. the O(spine x lookup-per-key) range join.
    """
    lookup_types = dict(lookup.dtypes)
    vals = F.struct(*[F.col(c) for c in value_cols])
    vals_type = lookup.select(vals.alias("__vals")).schema["__vals"].dataType
    s = spine.withColumns(
        {
            "__ts_us": epoch_us(spine_ts),
            "__side": F.lit(1),
            "__tb": F.lit(None).cast(lookup_types[lookup_tiebreak]),
            "__vals": F.lit(None).cast(vals_type),
        }
    )
    lu = lookup.select(
        F.col(key),
        epoch_us(lookup_ts).alias("__ts_us"),
        F.lit(0).alias("__side"),
        F.col(lookup_tiebreak).alias("__tb"),
        vals.alias("__vals"),
    )
    # Spine schema minus the carried columns, preserved through the union.
    spine_cols = spine.columns
    s_sel = s.select(
        F.col(key), "__ts_us", "__side", "__tb", "__vals",
        *[F.col(c) for c in spine_cols if c != key],
    )
    lu_sel = lu.select(
        F.col(key), "__ts_us", "__side", "__tb", "__vals",
        *[F.lit(None).cast(dict(spine.dtypes)[c]).alias(c) for c in spine_cols if c != key],
    )
    unioned = s_sel.unionByName(lu_sel)
    # lookups (side 0) sort before spine (side 1) at equal ts
    w = (
        Window.partitionBy(key)
        .orderBy("__ts_us", "__side", "__tb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn("__asof", F.last("__vals", ignorenulls=True).over(w))
    return (
        carried.where(F.col("__side") == 1)
        .select(
            *spine_cols,
            *[F.col("__asof")[c].alias(f"asof_{c}") for c in value_cols],
        )
    )


def interval_existence_labels(
    spine: DataFrame,
    events: DataFrame,
    key: str,
    spine_ts: str,
    event_ts: str,
    horizon_days: int,
    label_col: str = "churn",
) -> DataFrame:
    """J2: ``label = 1`` iff NO event in ``(t_ref, t_ref + horizon]`` for the
    entity — the reference's churn-label construction
    (``jobs/make_training_and_train.py:26-46``: ``searchsorted(side="right")``
    excludes ``event_ts == t_ref``, the ``<= t_ref + 30D`` bound is
    inclusive).

    Union-window formulation (zero joins): tag event rows, union with the
    spine, and count events in the range frame ``[t + 1us, t + horizon]`` —
    strictly-after via the +1us lower bound, inclusive upper bound.  The
    reference's duplicate-label blowup (SURVEY.md §7.4.3) is avoided by
    deduping the spine — done AFTER the window pass via ``row_number`` over
    ``(key, ts)``: hash(key) clustering already satisfies that partition
    spec and the rows arrive (key, ts)-sorted, so the dedup costs one extra
    frame pass instead of the full ``distinct()`` exchange a pre-dedup pays
    (duplicate spine rows see identical frames, so any survivor carries the
    same label).
    """
    horizon_us = horizon_days * 86_400 * MICROS
    sp = spine.select(F.col(key), F.col(spine_ts).alias("__t")).withColumns(
        {"__ts_us": epoch_us("__t"), "__ev": F.lit(0)}
    )
    ev = events.select(
        F.col(key),
        F.lit(None).cast(dict(spine.dtypes)[spine_ts]).alias("__t"),
        epoch_us(event_ts).alias("__ts_us"),
        F.lit(1).alias("__ev"),
    )
    w = (
        Window.partitionBy(key)
        .orderBy("__ts_us")
        .rangeBetween(1, horizon_us)
    )
    w_dedupe = Window.partitionBy(key, "__ts_us").orderBy("__ev")
    out = (
        sp.unionByName(ev)
        .withColumn("__n_future", F.sum("__ev").over(w))
        .where(F.col("__ev") == 0)
        .withColumn("__rn", F.row_number().over(w_dedupe))
        .where(F.col("__rn") == 1)
        .select(
            F.col(key),
            F.col("__t").alias("t_ref"),
            F.when(F.coalesce(F.col("__n_future"), F.lit(0)) > 0, F.lit(0))
            .otherwise(F.lit(1))
            .alias(label_col),
        )
    )
    return out


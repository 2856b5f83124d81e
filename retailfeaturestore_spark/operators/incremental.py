"""Incremental table maintenance: upsert-by-key and keyed table diff.

The reference materializes by full overwrite-on-rerun (SURVEY.md §4.1
idempotence row); a production gold table wants MERGE semantics.
``upsert_latest`` is that MERGE on an mtable (``sources.mtable``): the
batch reduces to its latest row per key (the A4 single-window pass), the
winners that beat the stored row go through ``MTable.merge_upsert``, and a
partitioned table rewrites only the partitions the updates touch — one
atomic manifest commit, readers snapshot-isolated.  ``table_diff`` is the
keyed audit between two versions of a table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pit import latest_per_key

__all__ = ["upsert_latest", "table_diff"]


def upsert_latest(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    keys: list[str],
    ts_col: str,
    tiebreak_col: str | None = None,
    partition_col: str | None = None,
) -> int:
    """Merge ``updates`` into the mtable at ``table_path``: for each key,
    the row with the greatest (ts, tiebreak) wins.  Returns the row count
    after the merge.

    Each call is one atomic manifest commit through
    :meth:`..sources.mtable.MTable.merge_upsert`; readers are
    snapshot-isolated for the whole apply window.  An update row that TIES
    the stored row (equal ts and tiebreak) wins, so the merge is
    deterministic and replay-idempotent.

    With no table at ``table_path``, the first call commits the batch's
    latest-per-key rows as version 1 (``MTable.write``, partitioned by
    ``partition_col`` when given).  A path that holds files but no
    mtable manifest raises ``ValueError``: the merge never starts a new
    table beside existing data.
    """
    tb = tiebreak_col or ts_col
    from ..sources.mtable import MTable, _fs, _jpath

    t = MTable(spark, table_path)
    cand = latest_per_key(updates, keys, ts_col, tb)
    cur = t._latest()
    if cur is None:
        fs, jvm = _fs(spark, t.path)
        root = _jpath(jvm, t.path)
        # data/ and _manifest/ alone are residue of a first write that
        # crashed before its manifest commit: invisible to readers, safe
        # to write over
        if fs.exists(root) and any(
            st.getPath().getName() not in ("data", "_manifest")
            for st in fs.listStatus(root)
        ):
            raise ValueError(
                f"{table_path} holds files but no mtable manifest; "
                "convert it with MTable.write before merging into it"
            )
        t.write(cand, partition_by=partition_col)
        return t.read().count()
    # keep only the batch winners that beat (or miss) the stored row for
    # their key — merge_upsert replaces matched keys and appends new ones,
    # all in one manifest commit against the version read here
    ex = t.read().select(
        *keys,
        F.col(ts_col).alias("__ex_ts"),
        F.col(tb).alias("__ex_tb"),
    )
    beats = (
        F.col("__ex_ts").isNull()
        | (F.col(ts_col) > F.col("__ex_ts"))
        | ((F.col(ts_col) == F.col("__ex_ts")) & (F.col(tb) >= F.col("__ex_tb")))
    )
    winners = (
        cand.join(ex, on=list(keys), how="left")
        .where(beats)
        .drop("__ex_ts", "__ex_tb")
    )
    if t._logical_pby(cur[1]) is not None:
        # partitioned table: keyed merge rewrites only touched partitions
        pval = F.col(partition_col) if partition_col is not None else None
        t.merge_upsert(winners, keys=list(keys), partition_col_value=pval)
    else:
        # unpartitioned table: survivors + winners as one atomic
        # whole-table version (there is no partition grain to scope the
        # rewrite to)
        survivors = t.read().join(
            F.broadcast(winners.select(*keys).distinct()),
            on=list(keys),
            how="left_anti",
        )
        t.write(survivors.unionByName(winners.select(*survivors.columns)))
    return t.read().count()


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Keyed diff between two versions of a table — the pipeline-regression
    audit that gates a gold-table publish: which keys were added, removed,
    or changed, and which columns changed.

    Returns one row per non-identical key: ``(*keys, change, changed_cols)``
    with ``change in ('added', 'removed', 'changed')`` and ``changed_cols``
    the sorted array of differing column names (empty for added/removed).
    Unchanged keys produce NO row, so the output is |delta|-sized, not
    |table|-sized.

    Precondition: the key is UNIQUE within each version (the contract of a
    keyed table; a NULL key component counts as a value and is matched
    null-safely).  Duplicate keys — including multiple NULL-keyed rows —
    make the full-outer join many-to-many and the classification
    undefined; run ``quality_checks.expect_unique_key`` first when the
    upstream does not guarantee it.

    Shape: ONE full-outer join on the key (both sides shuffle once, the
    standard co-partitioned diff); per-column comparison is null-safe
    (``<=>``) column algebra — no row serialization, no UDF.  At scale,
    bucket both versions by the key to elide the exchanges entirely
    (``io.write_bucketed_table``).
    """
    # `is None`, not truthiness: an explicit empty list means "classify
    # added/removed only" and must not auto-derive the shared columns.
    if compare_cols is None:
        compare_cols = [
            c for c in new.columns if c in set(old.columns) and c not in set(keys)
        ]
    o = old.select(
        *[F.col(k).alias(f"__ko_{k}") for k in keys],
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"__kn_{k}") for k in keys],
        *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
        F.lit(1).alias("__in_new"),
    )
    cond = None
    for k in keys:
        # null-safe: a NULL key component must still match across versions
        # (plain == leaves both sides unmatched and reports a phantom
        # removed+added pair for an unchanged NULL-keyed row)
        eq = F.col(f"__ko_{k}").eqNullSafe(F.col(f"__kn_{k}"))
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, cond, "full_outer")
    changed_cols = F.array_sort(
        F.filter(
            F.array(
                *[
                    F.when(
                        ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}")),
                        F.lit(c),
                    )
                    for c in compare_cols
                ]
            ),
            lambda x: x.isNotNull(),
        )
    )
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(F.size(changed_cols) > 0, F.lit("changed"))
    )
    return (
        j.withColumn("change", change)
        .where(F.col("change").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"__kn_{k}"), F.col(f"__ko_{k}")).alias(k)
                for k in keys
            ],
            "change",
            F.when(F.col("change") == "changed", changed_cols)
            .otherwise(F.array().cast("array<string>"))
            .alias("changed_cols"),
        )
    )

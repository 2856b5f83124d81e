"""Keyed table diff: the audit between two versions of a table.

``MTable.diff`` runs it over two snapshots of an mtable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["table_diff"]


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
    bucket both versions by the key to elide the exchanges entirely.
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

"""Declarative data-quality gates for pipeline boundaries.

The reference DECLARES great-expectations/evidently in requirements but never
imports either (SURVEY.md §0) — quality checking is an aspirational no-op
there.  This module supplies the minimal real thing: expectations evaluated
in ONE aggregation pass (a single job over the table, no per-check scans),
returning a structured report the pipeline can gate on.

Scale shape: every expectation compiles to an aggregate expression; the
whole suite is one partial+final aggregation regardless of how many checks
run.  100 TB cost = one scan.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "expect_not_null",
    "expect_between",
    "expect_unique_key",
    "checks_report",
]


@dataclass
class Check:
    name: str
    # aggregate producing the number of VIOLATIONS: a SUM over per-row
    # indicators, since the two-level plan used when a unique_key check is
    # present evaluates the other checks per key group and sums the partials
    violations: Column
    # uniqueness checks carry the key instead (see _compile_suite)
    unique_cols: tuple[str, ...] | None = None


def expect_not_null(col: str) -> Check:
    return Check(
        name=f"not_null({col})",
        violations=F.sum(F.col(col).isNull().cast("long")),
    )


def expect_between(col: str, lo, hi) -> Check:
    bad = ~F.col(col).between(F.lit(lo), F.lit(hi)) | F.col(col).isNull()
    return Check(name=f"between({col},{lo},{hi})", violations=F.sum(bad.cast("long")))


def expect_unique_key(*cols: str) -> Check:
    # Distinct-count shortfall = duplicate key rows.  NULL semantics: a row
    # with any NULL key component is ALWAYS a violation (count_distinct
    # drops null tuples, so such rows land in the shortfall) — a key that
    # can be null is not a key.  Both compile paths implement this
    # (see _compile_suite's null-group handling).
    return Check(
        name=f"unique_key({','.join(cols)})",
        violations=F.count(F.lit(1)) - F.count_distinct(*[F.col(c) for c in cols]),
        unique_cols=tuple(cols),
    )


def _compile_suite(df: DataFrame, checks: list[Check]):
    """Compile the suite to ONE aggregation plan.

    A ``count_distinct`` mixed with plain sums makes Spark EXPAND every
    input row (one copy per distinct-aggregate branch) before the shuffle —
    2x the shuffle volume for one uniqueness check.  When a unique-key
    check is present, the suite instead aggregates in two levels sharing
    one shuffle: partial sums per key group, then a final roll-up where
    the duplicate count is ``sum(group_rows) - count(groups)``.  Without a
    uniqueness check it stays a single scan-level aggregation (no shuffle
    at all beyond the final single-row exchange).
    """
    uniq = [c for c in checks if c.unique_cols is not None]
    if not uniq:
        return df.agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                c.violations.cast("long").alias(f"__c{i}")
                for i, c in enumerate(checks)
            ],
        )
    if len(uniq) > 1:
        raise ValueError("at most one unique_key check per suite")
    key = [F.col(c) for c in uniq[0].unique_cols]
    # groupBy treats NULL as a regular group, but a null key component must
    # stay a violation (matching count_distinct's null-tuple drop in the
    # single-level form): duplicate shortfall per group is rows - 1 for
    # real keys, ALL rows for null-component keys.
    key_ok = None
    for c in uniq[0].unique_cols:
        nn = F.col(c).isNotNull()
        key_ok = nn if key_ok is None else (key_ok & nn)
    per_key = df.groupBy(*key).agg(
        F.count(F.lit(1)).alias("__rows"),
        *[
            c.violations.cast("long").alias(f"__c{i}")
            for i, c in enumerate(checks)
            if c.unique_cols is None
        ],
    ).withColumn("__dup", F.when(key_ok, F.col("__rows") - 1).otherwise(F.col("__rows")))
    return per_key.agg(
        F.sum("__rows").alias("__n"),
        *[
            (
                F.sum("__dup")
                if c.unique_cols is not None
                else F.sum(f"__c{i}")
            ).cast("long").alias(f"__c{i}")
            for i, c in enumerate(checks)
        ],
    )


def checks_report(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Evaluate the whole suite in one aggregation, fully declarative:
    returns a DataFrame of ``(check, violations, n_rows)`` — no collect, so
    the report itself can be a pipeline stage (sunk next to the data it
    gates) and the whole suite still costs one shuffle."""
    agg = _compile_suite(df, checks)
    stack_expr = ", ".join(f"'{c.name}', __c{i}" for i, c in enumerate(checks))
    return agg.selectExpr(
        f"stack({len(checks)}, {stack_expr}) as (check, violations)", "__n as n_rows"
    )

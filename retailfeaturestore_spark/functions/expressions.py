"""Scalar expression helpers mirroring the reference's pandas idioms.

All of these are pure Column expressions — they stay inside whole-stage
codegen, no Python in the hot path (SURVEY.md §2.2 P7/P8/P11/P12).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "guarded_div",
    "clip",
    "indicator",
    "not_null_filter",
    "cents",
    "from_cents",
    "money_sum",
    "epoch_us",
    "sql_ident",
    "sql_with",
]


def sql_ident(name: str) -> str:
    """``name`` as a back-quoted identifier inside a ``spark.sql`` text that
    binds frames as ``{name}`` arguments: backticks are doubled for SQL,
    braces for the ``str.format`` pass."""
    return "`" + name.replace("`", "``").replace("{", "{{").replace("}", "}}") + "`"


def sql_with(ctes: list[tuple[str, str]], query: str) -> str:
    """``WITH name AS (body), ... query``: one statement from named stages."""
    return "WITH " + ",\n".join(f"{n} AS ({b})" for n, b in ctes) + "\n" + query


def epoch_us(col: Column | str) -> Column:
    """Dtype-safe epoch microseconds: ``unix_micros(cast(col AS TIMESTAMP))``.

    ``unix_micros`` rejects TIMESTAMP_NTZ inputs outright (SQLSTATE 42K09), and
    the engine cannot control whether a caller's session read parquet as NTZ or
    LTZ.  The cast is a Catalyst no-op on TIMESTAMP, interprets NTZ wall time
    in the session timezone (UTC — asserted by ``io.ensure_scan_confs``), and
    also admits DATE.  Use this, never raw ``F.unix_micros``, on any column
    that may originate from a scan.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def cents(col: Column, scale: int = 2) -> Column:
    """Fixed-decimal value -> exact long 'cents': ``round(x * 10^scale)::long``.

    The scaled double is within ~1e-11 of an integer (inputs have <= scale
    decimals), so round() is unambiguous in every engine; summing the longs
    is exact and order-independent — the fast-path alternative to DECIMAL
    accumulation (~2x: primitive codegen vs BigDecimal).  Overflow bound:
    group sums must stay < 2^63 / 10^scale; at extreme row counts switch to
    DECIMAL or two-tier summation.
    """
    return F.round(col * F.lit(float(10**scale))).cast("long")


def from_cents(col: Column, scale: int = 2) -> Column:
    return col / F.lit(float(10**scale))


def money_sum(col: Column, scale: int = 2) -> Column:
    """groupBy form: ``sum(cents(x)) / 10^scale`` (double)."""
    return from_cents(F.sum(cents(col, scale)), scale)


def guarded_div(num: Column, denom: Column) -> Column:
    """``num / max(denom-if-positive, 1)``.

    Parity with the reference's guarded ratio idiom
    ``denom = x.where(x > 0, other=1); num / denom``
    (``jobs/build_feature_views.py:49-50,53`` — P11): a zero or negative
    denominator is replaced by 1, never producing null/inf.
    """
    return num / F.when(denom > 0, denom).otherwise(F.lit(1.0))


def clip(col: Column, lo: float, hi: float) -> Column:
    """``.clip(lo, hi)`` (``jobs/build_feature_views.py:54`` — P12)."""
    return F.least(F.greatest(col, F.lit(lo)), F.lit(hi))


def indicator(pred: Column) -> Column:
    """Boolean predicate -> 0/1 int (``jobs/build_feature_views.py:14`` — P8)."""
    return pred.cast("int")


def not_null_filter(df: DataFrame, *cols: str) -> DataFrame:
    """Quarantine rows with null keys (``jobs/ingest_xlsx_to_parquet.py:40-42`` — P6)."""
    cond = None
    for c in cols:
        p = F.col(c).isNotNull()
        cond = p if cond is None else (cond & p)
    return df.where(cond) if cond is not None else df

"""Ingest-normalization operator set (SURVEY.md §2.2 P1-P8, P16).

The reference's ingest (``jobs/ingest_xlsx_to_parquet.py:24-42``) composes:
rename map (P1) -> coercing casts (P2) -> string normalize (P3) -> prefix flag
(P4) -> arithmetic derived column (P5) -> not-null key filter (P6) ->
timestamp->date (P16).  Here the same pipeline is one declarative ``select``
so Catalyst folds it into the scan: column pruning reaches the parquet reader
and the null-filter pushes down as a parquet row-group predicate.

Two faces:
- ``normalize_orders_raw``: the reference's exact xlsx-shape contract
  (FIXTURES.md §1) for retail-domain inputs.
- ``lineitem_to_bronze``: the driver-testdata mapping (FIXTURES.md §7) that
  reshapes TPC-H ``lineitem ⋈ orders [⋈ customer]`` into the bronze order-line
  contract (``o_custkey``->customer_id, ``l_partkey``->stock_code,
  ``l_returnflag='R'``->is_cancel, ``l_extendedprice*(1-l_discount)``->
  line_amount, ``c_mktsegment``->country analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql import types as T

from ..functions.expressions import not_null_filter

__all__ = ["normalize_orders_raw", "lineitem_to_bronze", "excel_serial_to_timestamp"]

# Days between the Excel 1900-date-system epoch (1899-12-30, after the
# lotus-123 leap-year bug offset) and the Unix epoch (1970-01-01).
_EXCEL_UNIX_EPOCH_DELTA_DAYS = 25569


def excel_serial_to_timestamp(col: F.Column) -> F.Column:
    """Excel 1900-system serial day number (double) -> UTC timestamp.

    ``round`` to whole seconds before ``timestamp_seconds`` because serials
    carry sub-second float noise (40179.520833... for 12:30:00) that would
    otherwise surface as .999999/.000001 second jitter.
    """
    return F.timestamp_seconds(
        F.round((col - F.lit(_EXCEL_UNIX_EPOCH_DELTA_DAYS)) * F.lit(86400.0)).cast(
            "long"
        )
    )


def _invoice_date_expr(raw: DataFrame) -> F.Column:
    """P2/P16 dtype-aware timestamp repair for ``InvoiceDate``.

    The executor-side xlsx reader surfaces dates as Excel serial-number
    doubles (``sources/xlsx.py`` module docstring: converting them is the
    ingest contract's job).  The reference gets real datetimes from pandas
    ``read_excel`` (``jobs/ingest_xlsx_to_parquet.py:26``), so conversion is
    on us: numeric input -> serial->Unix conversion; string input -> coercing
    ``try_cast`` (pandas ``errors="coerce"`` parity), with a serial-shaped
    string fallback so a CSV re-export of a workbook still ingests.
    """
    dt = raw.schema["InvoiceDate"].dataType
    col = F.col("InvoiceDate")
    if isinstance(dt, T.NumericType):
        return excel_serial_to_timestamp(col.cast("double"))
    parsed = col.cast("string").try_cast("timestamp")
    serial = col.cast("string").try_cast("double")
    return F.coalesce(
        parsed,
        F.when(
            serial.isNotNull() & (serial > 0) & (serial < 200_000),
            excel_serial_to_timestamp(serial),
        ),
    )


def _coerce_int(raw: DataFrame, name: str) -> F.Column:
    """P2 int coercion, dtype-aware: the xlsx reader surfaces numeric columns
    as doubles (``17850.0``), whose string form does not ``try_cast`` to int —
    go through double first so both ``"6"`` and ``6.0`` land as 6 (pandas
    ``to_numeric(errors="coerce")`` parity)."""
    dt = raw.schema[name].dataType
    col = F.col(f"`{name}`")
    if isinstance(dt, T.NumericType):
        return col.try_cast("int")
    return col.cast("string").try_cast("double").try_cast("int")


def normalize_orders_raw(raw: DataFrame) -> DataFrame:
    """xlsx-contract raw frame -> bronze orders (P1-P8 + P16 composed).

    Column-for-column parity with ``jobs/ingest_xlsx_to_parquet.py:14-42``;
    monetary math widened to double (SURVEY.md §7.4.5).  Spark's ``try_cast``
    reproduces pandas ``errors="coerce"`` (bad value -> null).
    """
    df = raw.select(
        F.trim(F.col("Invoice").cast("string")).alias("invoice"),
        F.upper(F.trim(F.col("StockCode").cast("string"))).alias("stock_code"),
        F.trim(F.coalesce(F.col("Description").cast("string"), F.lit(""))).alias(
            "description"
        ),
        _coerce_int(raw, "Quantity").alias("quantity"),
        _invoice_date_expr(raw).alias("invoice_date"),
        F.col("Price").cast("string").try_cast("double").alias("unit_price"),
        _coerce_int(raw, "Customer ID").alias("customer_id"),
        F.trim(F.col("Country").cast("string")).alias("country"),
    )
    df = df.withColumns(
        {
            # P4 — jobs/ingest_xlsx_to_parquet.py:36
            "is_cancel": F.coalesce(F.col("invoice").startswith("C"), F.lit(False)),
            # P5 — :37
            "line_amount": F.col("quantity").cast("double") * F.col("unit_price"),
        }
    )
    # P6 — :40-42
    return not_null_filter(df, "customer_id", "invoice_date", "quantity")


def lineitem_to_bronze(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame | None = None
) -> DataFrame:
    """TPC-H testdata -> bronze order-line contract (FIXTURES.md §7 mapping).

    ``orders`` (and optional ``customer``) are dimension-sized relative to
    ``lineitem`` only in the broadcast sense when filtered; at full scale the
    lineitem⋈orders join is an equi shuffle join on ``l_orderkey`` (AQE picks
    sort-merge; both sides could be bucketed by orderkey at rest to kill the
    shuffle entirely).  The optional customer join broadcasts.
    ``customer_id`` is cast to int, as ``schemas.ORDERS_BRONZE`` declares
    and ``normalize_orders_raw`` writes, so one declared schema reads either
    face's bronze.
    """
    o = orders.select("o_orderkey", "o_custkey", "o_orderdate")
    df = (
        lineitem.join(o, lineitem.l_orderkey == o.o_orderkey, "inner")
        .select(
            F.col("o_custkey").cast("int").alias("customer_id"),
            F.col("l_orderkey").cast("string").alias("invoice"),
            F.col("l_linenumber").alias("line_no"),
            F.col("l_partkey").cast("string").alias("stock_code"),
            F.col("l_quantity").cast("int").alias("quantity"),
            F.col("o_orderdate").alias("invoice_date"),
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
            (F.col("l_returnflag") == "R").alias("is_cancel"),
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
                "line_amount"
            ),
        )
    )
    if customer is not None:
        c = F.broadcast(customer.select("c_custkey", "c_mktsegment"))
        df = df.join(c, df.customer_id == c.c_custkey, "left").drop("c_custkey")
        df = df.withColumnRenamed("c_mktsegment", "country")
    return not_null_filter(df, "customer_id", "invoice_date")

"""Explicit StructType schemas for every table the engine touches.

The reference has no schema objects at all — types are fixed by convention via
explicit casts at ingest (``jobs/ingest_xlsx_to_parquet.py:24-42``, SURVEY.md
§1.2/§1.3).  In this engine tables have declared schemas so that scans can
prune columns and writers can validate contracts.
The gold column contract is built in ``jobs._gold_frame`` and the model-input
contract in ``ml.artifacts.resolve_feature``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Retail domain (reference parity): bronze orders, pred log.
# ---------------------------------------------------------------------------

# The raw retail workbook's columns as the xlsx reader returns them (DDL):
# the header names of ``jobs/ingest_xlsx_to_parquet.py``'s sheets, Excel
# serial dates and numeric ids as doubles, before normalization.
XLSX_RAW = (
    "Invoice string, StockCode string, Description string, Quantity long, "
    "InvoiceDate double, Price double, `Customer ID` double, Country string"
)

# Post-ingest bronze contract — jobs/ingest_xlsx_to_parquet.py:24-42.
# float32 accumulation in the reference is deliberately widened to double
# (SURVEY.md §7.4.5); narrowing happens only at the online-store boundary.
ORDERS_BRONZE = T.StructType(
    [
        T.StructField("invoice", T.StringType(), False),
        T.StructField("stock_code", T.StringType(), False),
        T.StructField("description", T.StringType(), False),
        T.StructField("quantity", T.IntegerType(), False),
        T.StructField("invoice_date", T.TimestampType(), False),
        T.StructField("unit_price", T.DoubleType(), True),
        T.StructField("customer_id", T.IntegerType(), False),
        T.StructField("country", T.StringType(), True),
        T.StructField("is_cancel", T.BooleanType(), False),
        T.StructField("line_amount", T.DoubleType(), True),
    ]
)

# Prediction-log contract — serving/pred_logger.py:37-49 (FIXTURES.md §5).
PRED_LOG = T.StructType(
    [
        T.StructField("ts_served", T.StringType(), False),
        T.StructField("latency_ms", T.DoubleType(), False),
        T.StructField("customer_id", T.IntegerType(), False),
        T.StructField("t_ref", T.StringType(), True),
        T.StructField("threshold", T.DoubleType(), False),
        T.StructField("probability", T.DoubleType(), False),
        T.StructField("prediction", T.IntegerType(), False),
        T.StructField("model_artifact", T.StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Driver testdata (TPC-H-ish star schema + events/documents/embeddings).
# ---------------------------------------------------------------------------

TESTDATA = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType(), True),
            T.StructField("r_name", T.StringType(), True),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType(), True),
            T.StructField("n_name", T.StringType(), True),
            T.StructField("n_regionkey", T.IntegerType(), True),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType(), True),
            T.StructField("c_name", T.StringType(), True),
            T.StructField("c_nationkey", T.IntegerType(), True),
            T.StructField("c_acctbal", T.DoubleType(), True),
            T.StructField("c_mktsegment", T.StringType(), True),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType(), True),
            T.StructField("s_name", T.StringType(), True),
            T.StructField("s_nationkey", T.IntegerType(), True),
            T.StructField("s_acctbal", T.DoubleType(), True),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType(), True),
            T.StructField("p_name", T.StringType(), True),
            T.StructField("p_brand", T.StringType(), True),
            T.StructField("p_type", T.StringType(), True),
            T.StructField("p_size", T.IntegerType(), True),
            T.StructField("p_retailprice", T.DoubleType(), True),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType(), True),
            T.StructField("o_custkey", T.LongType(), True),
            T.StructField("o_orderstatus", T.StringType(), True),
            T.StructField("o_totalprice", T.DoubleType(), True),
            T.StructField("o_orderdate", T.TimestampType(), True),
            T.StructField("o_orderpriority", T.StringType(), True),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType(), True),
            T.StructField("l_partkey", T.LongType(), True),
            T.StructField("l_suppkey", T.LongType(), True),
            T.StructField("l_linenumber", T.IntegerType(), True),
            T.StructField("l_quantity", T.DoubleType(), True),
            T.StructField("l_extendedprice", T.DoubleType(), True),
            T.StructField("l_discount", T.DoubleType(), True),
            T.StructField("l_tax", T.DoubleType(), True),
            T.StructField("l_returnflag", T.StringType(), True),
            T.StructField("l_linestatus", T.StringType(), True),
            T.StructField("l_shipdate", T.TimestampType(), True),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
            T.StructField("n_chars", T.LongType(), True),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType(), True),
            T.StructField("embedding", T.ArrayType(T.FloatType()), True),
            T.StructField("label", T.IntegerType(), True),
        ]
    ),
}

TESTDATA_TABLES = tuple(TESTDATA)

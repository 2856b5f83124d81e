"""Batch pipeline entry points — the reference's four jobs, Spark-first.

    raw (xlsx/fixture) --ingest_to_bronze--> bronze parquet (date-partitioned)
        --build_feature_views--> gold parquet (features_customer)
            +--materialize_online_job--> online hash store
            +--make_training--> training set -> model artifacts

Each stage is a pure DataFrame program ending in a declarative sink, so the
whole pipeline is restatable as Delta/Iceberg jobs on a cluster unchanged.
Citations: jobs/ingest_xlsx_to_parquet.py, jobs/build_feature_views.py,
jobs/materialize_online.py, jobs/make_training_and_train.py (SURVEY.md §3).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.expressions import sql_ident
from .io import write_date_partitioned
from .ml.artifacts import save_artifacts
from .ml.training import build_training_set
from .operators.encode import topk_categories
from .operators.normalize import normalize_orders_raw
from .operators.pit import interval_existence_labels, latest_per_key
from .operators.window_features import build_customer_features
from .schemas import ORDERS_BRONZE, XLSX_RAW
from .sources.xlsx import read_xlsx

__all__ = [
    "read_excel_sheets",
    "ingest_to_bronze",
    "build_feature_views",
    "build_feature_views_mtable",
    "backfill_feature_views",
    "backfill_feature_views_mtable",
    "materialize_online_job",
    "make_training",
]

# The gold feature windows (``jobs/build_feature_views.py:7``), the churn
# horizon (``jobs/make_training_and_train.py:30``) and the number of
# one-hot countries (``:50``), fixed as the reference fixes them.
WINDOWS = {"1d": 1, "7d": 7, "30d": 30}
CHURN_HORIZON_DAYS = 30
TOP_K_COUNTRIES = 10


def read_excel_sheets(spark: SparkSession, xlsx_path: str) -> DataFrame:
    """S1 Excel multi-sheet scan: every sheet of every workbook, UNION ALL
    (``jobs/ingest_xlsx_to_parquet.py:8-11``), in the reference's retail
    invoice layout.  Parsed on EXECUTORS by the dependency-free reader
    :func:`..sources.xlsx.read_xlsx` — no openpyxl needed, and unlike the
    reference's driver-side ``pd.read_excel`` it scales with the number of
    workbooks and sheets in the landing zone, and a giant sheet is cut into
    row-aligned shards parsed in parallel."""
    return read_xlsx(spark, xlsx_path, XLSX_RAW)


def ingest_to_bronze(spark: SparkSession, raw: DataFrame, bronze_path: str) -> None:
    """Normalize (P1-P8) + date-partitioned bronze sink (S3)."""
    write_date_partitioned(normalize_orders_raw(raw), bronze_path, "invoice_date")


def _gold_frame(
    spark: SparkSession,
    bronze_path: str,
    start_date: str | None = None,
    end_date: str | None = None,
) -> DataFrame:
    """Bronze -> the gold feature-view frame (W1-W6 window family over
    ``WINDOWS`` + tenure + A2 country mode), shared by every gold sink
    flavor.

    Bronze is read with its declared schema (``schemas.ORDERS_BRONZE``), so
    no job infers it.  The per-customer attributes come from ONE
    full-history aggregate: ``GROUP BY customer_id, country`` with
    ``count`` and ``min(invoice_date)``, then one window per customer
    ordered by count descending, country ascending (NULLs first) —
    ``operators.encode.group_mode``'s tie-break — whose first row is the
    mode country and whose frame minimum is the customer's first-seen
    time.  The aggregate, the range filter and the join are one SQL
    statement over the family's frame, so the whole plan is four
    transformations, each analysed once.

    With ``[start_date, end_date]`` only the rows whose ``t_ref`` falls in
    the range are built, equal to a full build's rows there: the window
    family reads bronze from ``start - max(WINDOWS)`` (the lookback) to
    ``end``, and ``tenure_days`` is re-measured from that first-seen time
    (in a production lakehouse, a maintained customer dimension).  A full
    build takes tenure from the family's own running minimum.  So bronze is
    scanned twice either way: once by the family, once by the aggregate."""
    bronze = spark.read.schema(ORDERS_BRONZE).parquet(bronze_path)
    ranged = start_date is not None
    events = bronze
    if ranged:
        start, end = F.lit(start_date).cast("date"), F.lit(end_date).cast("date")
        day = F.col("invoice_date").cast("date")
        events = bronze.where((day >= F.date_sub(start, max(WINDOWS.values()))) & (day <= end))
    # carry nothing: the line columns stay in bronze, and t_ref is rebuilt
    # from the family's epoch-microseconds ordering attribute
    feats = build_customer_features(events, windows=WINDOWS, carry_cols=())
    # Gold contract (FIXTURES.md §3): keys + windowed features + tenure +
    # mode country.
    feature_cols = ", ".join(
        "f." + sql_ident(f"{base}_{w}")
        for base in ("txn_count", "spend", "unique_skus", "avg_basket_value", "cancel_rate")
        for w in WINDOWS
    )
    tenure = (
        "floor((unix_micros(f.t_ref) - unix_micros(c.first_ts)) / 86400000000)"
        if ranged else "f.tenure_days"
    )
    in_range = (
        "WHERE CAST(f.t_ref AS DATE) BETWEEN CAST({start} AS DATE) AND CAST({end} AS DATE)"
        if ranged else ""
    )
    by_country = "PARTITION BY customer_id ORDER BY n DESC, country ASC"
    return spark.sql(
        f"""
        WITH counts AS (
            SELECT customer_id, country, count(1) AS n, min(invoice_date) AS first_ts
            FROM {{bronze}} GROUP BY customer_id, country),
        customers AS (
            SELECT customer_id, country, first_ts FROM (
                SELECT customer_id, country,
                    row_number() OVER ({by_country}) AS rn,
                    min(first_ts) OVER ({by_country}
                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_ts
                FROM counts)
            WHERE rn = 1)
        SELECT f.customer_id, f.t_ref, {feature_cols}, {tenure} AS tenure_days, c.country
        FROM {{feats}} f LEFT JOIN customers c ON c.customer_id = f.customer_id
        {in_range}""",
        bronze=bronze, feats=feats, start=start_date, end=end_date,
    )


def _gold_writer(gold: DataFrame):
    """The gold frame's ``date=YYYY-MM-DD`` partitioned writer, one file per
    date directory: the family runs on every core, so the frame is
    hash-partitioned by date before the ``partitionBy`` write, into
    ``defaultParallelism`` partitions that AQE does not coalesce, so the
    files are written on every core too."""
    par = gold.sparkSession.sparkContext.defaultParallelism
    return (
        gold.withColumn("date", F.date_format("t_ref", "yyyy-MM-dd"))
        .repartition(par, "date")
        .write.partitionBy("date")
    )


def build_feature_views(spark: SparkSession, bronze_path: str, gold_path: str) -> None:
    """Bronze -> W1-W6 window family + A2 country mode -> gold sink.

    The reference's per-customer Python loop (``jobs/build_feature_views.py:24``)
    is one window pass here; the per-customer mode country (``:59``) is a
    second tiny aggregation joined back on the entity key.
    """
    _gold_writer(_gold_frame(spark, bronze_path)).mode("overwrite").parquet(gold_path)


def build_feature_views_mtable(spark: SparkSession, bronze_path: str, table_path: str) -> int:
    """The same gold build committed to an ACID ``mtable`` instead of a
    plain partitioned directory — the production shape BASELINE.json names
    Delta for.  First run creates version 1; every later run MERGEs on
    (customer_id, t_ref) so a rerun over corrected bronze replaces exactly
    the recomputed snapshots (touched date partitions) atomically, while
    concurrent readers stay snapshot-isolated on the prior version — vs
    the reference's non-atomic directory overwrite
    (``jobs/build_feature_views.py:75-82``).  Returns the committed
    version."""
    from .sources.mtable import MTable

    gold = _gold_frame(spark, bronze_path)
    t = MTable(spark, table_path)
    if not t.versions():
        return t.write(
            gold.withColumn(
                "date", F.date_format("t_ref", "yyyy-MM-dd")
            ),
            partition_by="date",
        )
    return t.merge_upsert(
        gold,
        keys=["customer_id", "t_ref"],
        partition_col_value=F.date_format("t_ref", "yyyy-MM-dd"),
    )


def backfill_feature_views(
    spark: SparkSession,
    bronze_path: str,
    gold_path: str,
    start_date: str,
    end_date: str,
) -> int:
    """Incrementally recompute ONLY the gold date partitions in
    ``[start_date, end_date]`` — the late-data / bug-fix repair path the
    reference handles by full rebuild (its pipeline is rerun-from-scratch
    idempotent, SURVEY.md §2.9; at 100 TB a full rebuild for one late day
    is not an option).  The range frame comes from :func:`_gold_frame`,
    which gives it the window lookback and full-history tenure and mode a
    full build would.

    The write carries the per-write ``partitionOverwriteMode=dynamic``
    option, so ONLY the recomputed ``date=`` directories are replaced —
    partitions outside the range are untouched (test-asserted
    byte-for-byte) and the session conf is left alone.  Returns the number
    of rows written, read back from the range's parquet footers, so the
    recompute runs once.  (An ``Observation`` on the write is not used: on
    Spark 4.1 it leaves the session unserializable for later Spark ML
    closures.)  A range day the recompute no longer produces keeps, and
    counts, its old rows — the mtable sink replaces those."""
    gold = _gold_frame(spark, bronze_path, start_date, end_date)
    _gold_writer(gold).mode("overwrite").option("partitionOverwriteMode", "dynamic").parquet(
        gold_path
    )
    # a driver-side footer read (no Spark job) on the range's partitions
    part = pads.partitioning(pa.schema([("date", pa.string())]), flavor="hive")
    in_range = (pads.field("date") >= start_date) & (pads.field("date") <= end_date)
    return pads.dataset(gold_path, format="parquet", partitioning=part).count_rows(filter=in_range)


def backfill_feature_views_mtable(
    spark: SparkSession,
    bronze_path: str,
    table_path: str,
    start_date: str,
    end_date: str,
) -> int:
    """The backfill repair path committed to an ACID ``mtable``: the
    recomputed ``[start_date, end_date]`` gold slice replaces that date
    range as ONE atomic version — including dropping range days that now
    have NO rows (the directory path's dynamic overwrite can only replace
    directories it writes, so a day emptied by a bug fix silently keeps
    its stale rows there; the manifest commit replaces the whole range
    exactly).  Readers stay snapshot-isolated on the prior version for the
    entire recompute.  Returns the committed version."""
    from .sources.mtable import MTable

    gold = _gold_frame(spark, bronze_path, start_date, end_date)
    t = MTable(spark, table_path)
    cur = t.versions()
    if not cur:
        raise ValueError("backfill into an empty mtable: run the build first")
    base_v = cur[-1]
    existing = t._read_manifest(base_v)["partitions"]
    # overwrite_partitions also replaces every partition the frame stages
    # (all inside the range).  base_version: in_range was computed against
    # base_v's manifest — a racing commit must trip the CAS, not be clobbered
    in_range = [d for d in existing if start_date <= d <= end_date]
    return t.overwrite_partitions(
        gold.withColumn("date", F.date_format("t_ref", "yyyy-MM-dd")),
        partition_values=in_range,
        extra_meta={"backfill": [start_date, end_date]},
        base_version=base_v,
    )


def materialize_online_job(
    spark: SparkSession,
    gold_path: str,
    feature_cols: list[str],
    client_factory,
    onehot_categories: list[str] | None = None,
) -> int:
    """Gold -> deterministic latest-per-customer (A4) -> hash-store sink (S5).
    Returns the number of entities materialized, as counted by the sink."""
    from .sources.redis_sink import materialize_online

    gold = spark.read.parquet(gold_path)
    latest = latest_per_key(gold, "customer_id", "t_ref", "t_ref")
    return materialize_online(
        latest,
        feature_cols,
        onehot_categories=onehot_categories,
        client_factory=client_factory,
    )


def make_training(spark: SparkSession, bronze_path: str, gold_path: str, model_dir: str):
    """Labels (J2) -> training set (J1+J4) -> guarded collect -> fit ->
    artifacts (S8).

    Divergences from the reference, by design (SURVEY.md §7.4): deduped label
    spine and contract categories from a one-time top-k.  The model fits on
    every labelled row, with no held-out split; the registry's
    ``training_set_build`` query shows the event-time cutoff split.  The fit
    runs at the driver on the aggregated frame via the row-budgeted
    ``collect_training_frame`` (raises past ``MAX_DRIVER_ROWS``);
    ``fit_model`` trains LightGBM where installed and the protocol-typed
    LinearStubModel otherwise.
    """
    from .ml.scoring import contract_columns
    from .ml.training import collect_training_frame, fit_model

    bronze = spark.read.parquet(bronze_path)
    gold = spark.read.parquet(gold_path)

    purchases = bronze.where(~F.col("is_cancel") & (F.col("quantity") > 0))
    labels = interval_existence_labels(
        gold.select("customer_id", F.col("t_ref")),
        purchases.select("customer_id", F.col("invoice_date")),
        key="customer_id",
        spine_ts="t_ref",
        event_ts="invoice_date",
        horizon_days=CHURN_HORIZON_DAYS,
        label_col="churn_30d",
    )
    cats = [
        r[0]
        for r in topk_categories(gold.where(F.col("country").isNotNull()), "country", TOP_K_COUNTRIES)
        .select("country")
        .collect()
    ]
    ts = build_training_set(gold, labels, sorted(cats))
    numeric = {
        c for c, t in ts.dtypes if t in ("double", "int", "bigint", "float", "smallint")
    }
    feature_names = [
        c for c in ts.columns if c in numeric and c not in ("customer_id", "churn_30d")
    ]
    pdf = collect_training_frame(ts, [*contract_columns(ts.columns, feature_names), "churn_30d"])
    X = pdf[feature_names].to_numpy(dtype="float64")
    y = pdf["churn_30d"].to_numpy(dtype="float64")
    model, flavor = fit_model(X, y)
    metrics = {"n_rows": int(len(y)), "pos_rate": float(y.mean()), "flavor": flavor}
    paths = save_artifacts(model_dir, model, feature_names, metrics)
    return model, feature_names, paths

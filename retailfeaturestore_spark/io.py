"""Lakehouse IO: schema-checked scans and Hive-partitioned sinks.

Replaces the reference's ``rglob("*.parquet") -> pd.concat`` scan idiom
(``jobs/build_feature_views.py:10-11`` and five sibling sites, SURVEY.md §2.1
S2) with native Spark partition-discovering parquet scans — partition pruning,
predicate pushdown, and column pruning come from Catalyst for free — and its
manual one-directory-per-date writer (``jobs/ingest_xlsx_to_parquet.py:44-51``,
S3) with ``write.partitionBy``.

At 100 TB the *only* changes are the paths (object store URIs) and the table
format (Delta/Iceberg for ACID overwrite) — the call sites stay identical.
Keyed MERGE and clustered layouts live in ``sources.mtable``
(``MTable.merge_upsert``, ``MTable.compact``), not here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import TESTDATA, TESTDATA_TABLES

__all__ = [
    "ensure_scan_confs",
    "load_table",
    "load_table_parallel",
    "load_tables",
    "write_date_partitioned",
    "write_csv",
    "DEFAULT_SF_DIR",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Runtime-settable SQL confs every scan re-asserts.  The engine cannot assume
# the caller's session was built by session.get_spark() — the correctness
# driver (and any downstream user) passes its own vanilla SparkSession, under
# which (a) nanosecond parquet timestamps fail the scan outright
# (PARQUET_TYPE_ILLEGAL) unless nanosAsLong is on, and (b) tz-less parquet
# timestamps surface as TIMESTAMP_NTZ, breaking epoch arithmetic.  All three
# confs are per-session runtime confs (verified on a vanilla local session),
# so setting them here makes every query session-agnostic.
_SCAN_CONFS = (
    # ns timestamps (events.ts) arrive as long; converted to µs below.
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    # tz-less timestamps read as TIMESTAMP (LTZ); with a UTC session this is
    # value-identical to the naive-UTC wall time DuckDB's oracle computes.
    ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ("spark.sql.session.timeZone", "UTC"),
)


def ensure_scan_confs(spark: SparkSession) -> None:
    """Assert the scan-critical runtime confs on the *caller's* session."""
    for k, v in _SCAN_CONFS:
        try:
            spark.conf.set(k, v)
        except Exception:
            # Unknown/static conf on an exotic build: the dtype-normalizing
            # casts in load_table below still repair what they can.
            pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table.  Plain parquet scan: Catalyst handles
    partition discovery, filter pushdown and column pruning downstream.

    Session-agnostic by construction: re-asserts the runtime scan confs on
    the passed session, then normalizes every declared-timestamp column that
    arrived as long (nanosecond parquet, ns->µs truncation — Spark's native
    precision; DuckDB's TIMESTAMP is µs too, so the differential oracle
    agrees) or as TIMESTAMP_NTZ (cast to TIMESTAMP under the UTC session —
    value-identical instant).
    """
    ensure_scan_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    expected = TESTDATA.get(name)
    if expected is not None:
        actual = dict(zip(df.schema.names, df.schema.fields))
        for field in expected.fields:
            got = actual.get(field.name)
            if got is None or not isinstance(field.dataType, T.TimestampType):
                continue
            if isinstance(got.dataType, T.LongType):
                df = df.withColumn(
                    field.name, F.timestamp_micros(F.expr(f"{field.name} div 1000"))
                )
            elif isinstance(got.dataType, T.TimestampNTZType):
                df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


_RG_COUNT_CACHE: dict[str, int] = {}


def _row_group_count(path: str) -> int:
    """Total parquet row groups under ``path`` (file or directory) — a
    driver-side metadata read (footers only, ~ms), memoized per path."""
    n = _RG_COUNT_CACHE.get(path)
    if n is not None:
        return n
    import pyarrow.parquet as pq

    files: list[str] = []
    if os.path.isdir(path):
        for root, _dirs, names in os.walk(path):
            files += [
                os.path.join(root, f)
                for f in names
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            ]
    elif os.path.isfile(path):
        files = [path]
    n = 0
    for f in files:
        try:
            n += pq.ParquetFile(f).metadata.num_row_groups
        except Exception:  # noqa: BLE001
            # unreadable footer: fail SAFE for the gate (pretend many row
            # groups, so the rescue never fires) — a spurious +1 here
            # could otherwise trip the gate and bolt a full-table shuffle
            # onto a production scan
            n += 1 << 20
    if not files:
        # non-local path (s3://, hdfs://) or nothing found: the gate must
        # never fire on layouts it cannot inspect — a production object
        # store scan is exactly where an unconditional repartition would
        # cost a 100 TB shuffle
        n = 1 << 30
    _RG_COUNT_CACHE[path] = n
    return n


def load_table_parallel(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    keys: tuple[str, ...],
) -> DataFrame:
    """``load_table`` plus a scan-parallelism rescue for row-group-starved
    layouts.

    Spark assigns parquet scan tasks at ROW-GROUP granularity, so a table
    written as one giant row group per file (exactly how the sf* testdata
    ships) gives the scan stage ONE task — and every map-side pipeline
    fused into it (tokenize/split, gram explode, partial aggregation,
    broadcast-join probe) serializes through a single core no matter how
    many the session has.  That is the "one-row-group-per-file scan
    artifact" documented since r1; it is also most of what BENCH rows
    previously attributed to a "string-throughput floor" on the corpus
    queries (r12 finding: the split work was single-threaded, not slow).

    Rescue: when the layout's total row-group count (driver-side footer
    read, memoized) is below half the session's core count, insert ONE
    hash repartition on ``keys`` straight off the scan so everything
    downstream runs at full width.  Hash, never round-robin: Spark's
    round-robin repartition locally sorts every batch for deterministic
    retry (measured 1.4x slower here).  On a production layout — many
    files / many row groups, the 100 TB shape — the gate never fires and
    this is exactly ``load_table``.  The repartition is value-neutral
    (hash partitioning commutes with every downstream agg/join), so
    oracle hashes are unchanged.
    """
    df = load_table(spark, sf_dir, name)
    path = os.path.join(sf_dir, f"{name}.parquet")
    cores = spark.sparkContext.defaultParallelism
    if _row_group_count(path) < max(cores // 2, 2):
        w = int(spark.conf.get("spark.sql.shuffle.partitions"))
        df = df.repartition(w, *[F.col(k) for k in keys])
    return df


def write_date_partitioned(
    df: DataFrame,
    path: str,
    event_ts_col: str,
    mode: str = "overwrite",
) -> None:
    """Hive-style ``date=YYYY-MM-DD`` partitioned sink.

    Parity with the reference's bronze/gold writers
    (``jobs/ingest_xlsx_to_parquet.py:44-51``, ``jobs/build_feature_views.py:75-82``)
    — the reference derives the date string per row and writes one file per
    date directory in a Python loop; here the deriving column is part of the
    plan and the shuffle-free ``partitionBy`` writer fans files out per
    partition value.  The partition column stays out of the data files, same
    as the reference (it drops ``date`` before write, ``:81``).
    """
    (
        df.withColumn("date", F.date_format(F.col(event_ts_col), "yyyy-MM-dd"))
        .write.mode(mode)
        .partitionBy("date")
        .parquet(path)
    )


def write_csv(df: DataFrame, path: str) -> None:
    """S7 CSV sink (``serving/local_infer.py:126-129`` batch-scores parity):
    overwrite, header on, single directory of part files (coalesce(1) only
    for tiny outputs — never at scale)."""
    df.write.mode("overwrite").option("header", "true").csv(path)

"""SparkSession factory with scale-appropriate defaults.

The reference engine is single-process pandas with no execution config at all
(SURVEY.md §4.1).  Here the session *is* the engine config, so the defaults
encode the 100 TB design intent:

- UTC session timezone — the reference enforces UTC at every read boundary
  (``jobs/ingest_xlsx_to_parquet.py:26``, ``serving/feature_service.py:23``).
- AQE on (runtime re-planning, skew-join splitting for whale-customer skew —
  SURVEY.md §7.4.8).
- Arrow on (every pandas boundary is Arrow-batched, never row-at-a-time).
- shuffle partitions sized to the environment (env override for the bench
  driver); at cluster scale this should be ~2-3x total executor cores or
  left to AQE coalescing.
- file listing as wide as the cores.  A read of more than 32 directories
  (a date-partitioned table) lists them in a Spark job whose width is
  ``spark.sql.sources.parallelPartitionDiscovery.parallelism``, default
  10,000: one task per directory, so 72 tasks for a 72-day table, and on
  4 cores the read costs mostly task launches.  Set to the session's
  ``defaultParallelism`` it runs one task per core, which still scales with
  a cluster's cores: a read of the 72-day perfbench bronze went from 503 to
  171 ms (median of 15, 4 vCPU).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_SHUFFLE_PARTITIONS"]

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def _default_local_dir() -> str:
    """Scratch dir for shuffle files / block manager, kept OFF /tmp.

    Spark's default (java.io.tmpdir = /tmp) is subject to tmp-cleaner
    eviction in sandboxed environments — BENCH_r07's blockmgr directory was
    deleted mid-benchmark, losing both committed shuffle files and an
    in-flight temp_shuffle write target.  Precedence: the standard
    SPARK_LOCAL_DIRS env (cluster operators set this; Spark itself gives it
    priority over the conf) > SPARK_GRAFT_LOCAL_DIR > a repo-sibling
    scratch directory."""
    env = os.environ.get("SPARK_LOCAL_DIRS") or os.environ.get(
        "SPARK_GRAFT_LOCAL_DIR"
    )
    if env:
        return env
    d = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     ".spark-local")
    try:
        os.makedirs(d, exist_ok=True)
    except OSError:
        return "/tmp"  # unwritable checkout (read-only mount): keep default
    return d


def get_spark(
    app_name: str = "retailfeaturestore-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's canonical config.

    In local testing ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``; on a
    real cluster the caller passes no master and spark-submit supplies it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: runtime shuffle-partition coalescing + skew-join
        # splitting.  Essential at scale (customer_id / user_id whale skew).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every JVM<->Python boundary (pandas_udf, toPandas,
        # createDataFrame-from-pandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Read tz-less parquet timestamps as TIMESTAMP_LTZ; with a UTC session
        # this is value-identical to naive-UTC (what the reference enforces and
        # what DuckDB computes), and keeps epoch functions (unix_micros) legal.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Nanosecond parquet timestamps (events.ts) surface as long; io.py
        # converts them to microsecond TimestampType against the declared
        # schema.  (Spark has no native ns timestamp — documented truncation.)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        # Parquet scans: vectorized reader + pushdown are on by default; keep
        # partition files at a size that parallelizes a 100 TB scan well.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Broadcast threshold: dims (region/nation/supplier/part at any SF's
        # relative size) broadcast; fact-fact joins sort-merge.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # NOTE: spark.driver.memory is deliberately NOT set here — it only
        # takes effect at JVM launch, so builder.config is a silent no-op in
        # an already-running driver.  Size the driver via spark-submit
        # --driver-memory / SPARK_DRIVER_MEMORY in the launch environment.
        .config("spark.ui.enabled", "false")
        # Shuffle/blockmgr scratch OFF /tmp: BENCH_r07 died ~100 queries in
        # when the sandbox evicted /tmp/blockmgr-* mid-run (shuffle .data
        # files AND an in-flight temp_shuffle_* write target vanished —
        # FileNotFoundException, rc=1).  A repo-scoped scratch dir survives
        # tmp-cleaner policies; on a real cluster SPARK_LOCAL_DIRS (which
        # overrides this conf) points at the node-local SSD array instead.
        # Static conf: takes effect only for the first session in the JVM.
        .config("spark.local.dir", _default_local_dir())
        # local metastore/warehouse for bucketed-table tests (static conf —
        # must be set before the first session in the JVM)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/rfs-spark-warehouse"),
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER_OVERRIDE_DISABLED"):
        builder = builder.master(f"local[{cpus}]")
    requested = dict(extra_conf or {})
    for k, v in requested.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # set after start-up, so it follows the core count the session came up with
    spark.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.parallelism",
        str(spark.sparkContext.defaultParallelism),
    )
    # getOrCreate may return a PRE-EXISTING session, silently ignoring every
    # builder conf (including static ones like the warehouse dir).  Surface
    # the divergence instead of letting it masquerade as engine defaults.
    diverged = []
    for k, v in requested.items():
        try:
            actual = spark.conf.get(k)
        except Exception:
            continue
        if actual != v:
            diverged.append(f"{k}={actual!r} (requested {v!r})")
    if diverged:
        import warnings

        warnings.warn(
            "get_spark returned an existing SparkSession whose configuration "
            "diverges from the request: " + "; ".join(diverged),
            RuntimeWarning,
            stacklevel=2,
        )
    return spark

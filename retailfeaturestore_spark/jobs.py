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

from .io import write_date_partitioned
from .ml.artifacts import save_artifacts
from .ml.training import build_training_set
from .operators.encode import group_mode, topk_categories
from .operators.normalize import normalize_orders_raw
from .operators.pit import interval_existence_labels, latest_per_key
from .operators.window_features import build_customer_features

__all__ = [
    "read_excel_sheets",
    "ingest_to_bronze",
    "build_feature_views",
    "build_feature_views_mtable",
    "backfill_feature_views",
    "backfill_feature_views_mtable",
    "materialize_online_job",
    "make_training",
    "build_packed_corpus",
]


def read_excel_sheets(
    spark: SparkSession,
    xlsx_path: str,
    schema: str | None = None,
    shard_threshold_bytes: int = 64 << 20,
) -> DataFrame:
    """S1 Excel multi-sheet scan: every sheet of every workbook, UNION ALL
    (``jobs/ingest_xlsx_to_parquet.py:8-11``).  Parsed on EXECUTORS by the
    dependency-free reader in :mod:`..sources.xlsx` (binaryFile ->
    mapInPandas, one task per workbook) — no openpyxl needed, and unlike the
    reference's driver-side ``pd.read_excel`` it scales with the number of
    workbooks in the landing zone.  ``schema`` declares the output columns
    (DDL string); defaults to the reference's retail invoice layout.

    Giant-workbook dispatch (r12): when any worksheet's uncompressed XML
    exceeds ``shard_threshold_bytes`` (the zip central directory records
    it), the whole read goes through
    :func:`..sources.xlsx.read_xlsx_sharded` so ONE 1M-row workbook parses
    at full cluster width (row-aligned byte shards, ~4x the per-file
    reader's throughput) instead of serializing through one task per
    sheet.  Directories of ordinary workbooks stay on the per-file reader,
    which avoids the sharded path's duplicated inflation.  Probe cost is
    bounded: the listing's COMPRESSED size (free) prefilters — only
    workbooks above a small absolute floor (1 MiB compressed) get a
    central-directory read (a few KB each), so a landing zone of
    thousands of small workbooks pays zero zip opens (r12 code-review
    finding).  The floor is absolute, NOT a compression-ratio guess:
    repetitive numeric sheet XML routinely deflates 25-50:1, so a
    threshold/20 cut would silently serialize exactly the giant
    worksheets the sharded path targets (r12 advice finding)."""
    import zipfile

    from .sources.xlsx import _list_workbooks, _open_input, read_xlsx, read_xlsx_sharded

    ddl = schema or (
        "Invoice string, StockCode string, Description string, Quantity long, "
        "InvoiceDate double, Price double, `Customer ID` double, Country string"
    )
    probe_floor = min(1 << 20, shard_threshold_bytes)
    for _, loc, csize in _list_workbooks(xlsx_path):
        if csize < probe_floor:
            continue  # small workbook: skip the (cheap) directory probe
        raw = _open_input(loc)
        try:
            with zipfile.ZipFile(raw) as zf:
                if any(
                    zi.file_size > shard_threshold_bytes
                    for zi in zf.infolist()
                    if zi.filename.startswith("xl/worksheets/")
                ):
                    return read_xlsx_sharded(spark, xlsx_path, ddl, header=True)
        finally:
            try:
                raw.close()
            except Exception:  # noqa: BLE001 — already closed
                pass
    return read_xlsx(spark, xlsx_path, ddl, header=True)


def ingest_to_bronze(spark: SparkSession, raw: DataFrame, bronze_path: str) -> None:
    """Normalize (P1-P8) + date-partitioned bronze sink (S3)."""
    write_date_partitioned(normalize_orders_raw(raw), bronze_path, "invoice_date")


def _gold_frame(
    spark: SparkSession,
    bronze_path: str,
    windows: dict[str, int] | None,
    start_date: str | None = None,
    end_date: str | None = None,
) -> DataFrame:
    """Bronze -> the gold feature-view frame (W1-W6 window family + tenure +
    A2 country mode), shared by every gold sink flavor.

    With ``[start_date, end_date]`` only the rows whose ``t_ref`` falls in
    the range are built, equal to a full build's rows there: the window
    family reads bronze from ``start - max(windows)`` (the lookback) to
    ``end``, and ``tenure_days`` is re-measured from the entity's first
    event EVER by a two-column full-history ``min(ts)`` scan (in a
    production lakehouse, a maintained first-seen dimension).  The mode
    country is a full-history attribute in both cases."""
    windows = windows or {"1d": 1, "7d": 7, "30d": 30}
    bronze = spark.read.parquet(bronze_path)
    events = bronze
    if start_date is not None:
        start, end = F.lit(start_date).cast("date"), F.lit(end_date).cast("date")
        day = F.col("invoice_date").cast("date")
        events = bronze.where((day >= F.date_sub(start, max(windows.values()))) & (day <= end))
    feats = build_customer_features(events.drop("country"), windows=windows)
    if start_date is not None:
        t_day = F.col("t_ref").cast("date")
        first_seen = bronze.groupBy("customer_id").agg(F.min("invoice_date").alias("__first_ts"))
        micros = F.unix_micros("t_ref") - F.unix_micros("__first_ts")
        feats = (
            feats.where((t_day >= start) & (t_day <= end))
            .join(first_seen, "customer_id", "left")
            .withColumn("tenure_days", F.floor(micros / 86_400_000_000))
        )
    mode = group_mode(bronze, "customer_id", "country").select(
        "customer_id", F.col("country_mode").alias("country")
    )
    # Gold contract (FIXTURES.md §3): keys + windowed features + tenure +
    # mode country — raw line columns stay in bronze.
    feature_cols = [
        f"{base}_{w}"
        for base in ("txn_count", "spend", "unique_skus", "avg_basket_value", "cancel_rate")
        for w in windows
    ]
    return feats.select("customer_id", "t_ref", *feature_cols, "tenure_days").join(
        mode, "customer_id", "left"
    )


def build_feature_views(
    spark: SparkSession,
    bronze_path: str,
    gold_path: str,
    windows: dict[str, int] | None = None,
) -> None:
    """Bronze -> W1-W6 window family + A2 country mode -> gold sink.

    The reference's per-customer Python loop (``jobs/build_feature_views.py:24``)
    is one window pass here; the per-customer mode country (``:59``) is a
    second tiny aggregation joined back on the entity key.
    """
    gold = _gold_frame(spark, bronze_path, windows)
    write_date_partitioned(gold, gold_path, "t_ref")


def build_feature_views_mtable(
    spark: SparkSession,
    bronze_path: str,
    table_path: str,
    windows: dict[str, int] | None = None,
) -> int:
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

    gold = _gold_frame(spark, bronze_path, windows)
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
    windows: dict[str, int] | None = None,
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
    gold = _gold_frame(spark, bronze_path, windows, start_date, end_date)
    (
        gold.withColumn("date", F.date_format("t_ref", "yyyy-MM-dd"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("date")
        .parquet(gold_path)
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
    windows: dict[str, int] | None = None,
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

    gold = _gold_frame(spark, bronze_path, windows, start_date, end_date)
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
    limit: int | None = None,
    ttl_seconds: int | None = None,
) -> int:
    """Gold -> deterministic latest-per-customer (A4) -> hash-store sink (S5).
    Returns the number of entities materialized, as counted by the sink."""
    from .sources.redis_sink import materialize_online

    gold = spark.read.parquet(gold_path)
    latest = latest_per_key(gold, "customer_id", "t_ref", "t_ref")
    if limit:
        latest = latest.limit(limit)
    return materialize_online(
        latest,
        feature_cols,
        onehot_categories=onehot_categories,
        client_factory=client_factory,
        ttl_seconds=ttl_seconds,
    )


def make_training(
    spark: SparkSession,
    bronze_path: str,
    gold_path: str,
    model_dir: str,
    horizon_days: int = 30,
    time_cutoff: str | None = None,
    top_k_countries: int = 10,
    max_driver_rows: int = 2_000_000,
    sample_over_limit: bool = False,
):
    """Labels (J2) -> training set (J1+J4) -> guarded collect -> fit ->
    artifacts (S8).

    Divergences from the reference, by design (SURVEY.md §7.4): deduped label
    spine, true time-cutoff split, contract categories from a one-time top-k.
    The model fit runs at the driver on the aggregated frame via the
    row-budgeted ``collect_training_frame`` (raises past ``max_driver_rows``
    unless a deterministic hash-sample is opted into); ``fit_model`` trains
    LightGBM where installed and the protocol-typed LinearStubModel
    otherwise.
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
        horizon_days=horizon_days,
        label_col="churn_30d",
    )
    cats = [
        r[0]
        for r in topk_categories(gold.where(F.col("country").isNotNull()), "country", top_k_countries)
        .select("country")
        .collect()
    ]
    ts = build_training_set(
        gold,
        labels,
        cat_col="country",
        cat_categories=sorted(cats),
        time_cutoff=time_cutoff,
        labels_deduped=True,  # interval_existence_labels dedupes internally
    )
    numeric = {
        c for c, t in ts.dtypes if t in ("double", "int", "bigint", "float", "smallint")
    }
    feature_names = [
        c
        for c in ts.columns
        if c in numeric
        and c not in ("customer_id", "churn_30d", "is_train")
    ]
    pdf = collect_training_frame(
        ts,
        [*contract_columns(ts.columns, feature_names), "churn_30d"],
        max_driver_rows=max_driver_rows,
        sample_over_limit=sample_over_limit,
    )
    X = pdf[feature_names].to_numpy(dtype="float64")
    y = pdf["churn_30d"].to_numpy(dtype="float64")
    model, flavor = fit_model(X, y)
    metrics = {"n_rows": int(len(y)), "pos_rate": float(y.mean()), "flavor": flavor}
    paths = save_artifacts(model_dir, model, feature_names, metrics)
    return model, feature_names, paths


def build_packed_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    max_tokens: int = 512,
    n_shards: int = 8,
) -> dict:
    """The LLM-corpus analogue of the retail pipeline above, end to end:

        documents --judge_corpus_admission (canonical-copy dedup, Gopher
                    gates, held-out-source exclusion, decontamination)
                  --pack_chunk_text--> fixed-length training sequences
                  --write_packed_shards--> one file per shard + manifest

    Returns the manifest.  The admission judgment is the SAME function the
    ``corpus_curation_pipeline`` audit query rolls up
    (``operators/curation.judge_corpus_admission``) — the audit is this
    job's dry run by construction, including the benchmark-source
    exclusion and the shingle-overlap decontamination gate.  Plan: the
    judgment's three data-scale exchanges, a doc_id join back to the text,
    then packing's one shard exchange.
    """
    from .io import load_table
    from .operators.curation import judge_corpus_admission
    from .operators.packing import pack_chunk_text, write_packed_shards

    d = load_table(spark, sf_dir, "documents")
    admitted_ids = judge_corpus_admission(d).where(F.col("kept") == 1).select("doc_id")
    admitted = d.join(admitted_ids, "doc_id").select("doc_id", "text")
    chunks = pack_chunk_text(admitted, max_tokens=max_tokens, n_shards=n_shards)
    return write_packed_shards(chunks, out_dir)


def build_graph_features(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    n_iter: int = 3,
    max_degree: int = 100,
    k_similar: int = 5,
    table_format: str = "parquet",
    n_buckets: int = 16,
) -> dict:
    """Materialize the co-purchase graph family as a PART FEATURE table —
    the graph analytics feeding back into the feature-store contract the
    rest of the engine serves:

        lineitem --copurchase_edges--> one shared edge build (built once,
          persisted under the session registry) -->
            pagerank (catalog importance)
          ⊕ triangle_counts (basket cohesion: n_triangles, clustering)
          ⊕ similar_by_neighbors (top-k bought-together ids + strengths)
        --> one row per part --> parquet sink

    Columns: part_id, degree, pagerank, n_triangles, clustering,
    top_similar (array of the k best neighbor ids in rank order),
    top_similar_jaccard (parallel array of strengths).  Vertices dropped
    by the stopword cap simply have empty similar arrays — they keep
    their pagerank/triangle features (computed on the full graph).

    Plan: the expensive edge build runs ONCE (shared persisted frame);
    each family adds only its own exchanges; the final assembly is three
    vertex-scale left joins on part_id.  Returns a manifest dict
    {rows, parts_with_similar, out_path}.
    """
    from .io import load_table
    from .operators.graph import (
        copurchase_edges,
        pagerank_scaled,
        similar_by_neighbors,
        triangle_counts,
    )

    scope = f"graphfeat:{sf_dir}"
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem")).persist()
    from .operators._cache import register_persisted

    register_persisted(edges, ("graphfeat_edges", scope))

    pr = pagerank_scaled(edges, n_iter=n_iter, cache_scope=scope).select(
        F.col("id").alias("part_id"), "degree", "pagerank"
    )
    tri = triangle_counts(edges, cache_scope=scope).select(
        F.col("id").alias("part_id"), "n_triangles", "clustering"
    )
    sim = (
        similar_by_neighbors(edges, max_degree=max_degree, k=k_similar, cache_scope=scope)
        .groupBy("part_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "similar_part", "jaccard"))),
                lambda s: s["similar_part"],
            ).alias("top_similar"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "similar_part", "jaccard"))),
                lambda s: s["jaccard"],
            ).alias("top_similar_jaccard"),
        )
    )
    gold = (
        pr.join(tri, "part_id", "left")
        .join(sim, "part_id", "left")
        .select(
            "part_id",
            "degree",
            "pagerank",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.coalesce("clustering", F.lit(0.0)).alias("clustering"),
            F.coalesce("top_similar", F.array().cast("array<long>")).alias("top_similar"),
            F.coalesce(
                "top_similar_jaccard", F.array().cast("array<double>")
            ).alias("top_similar_jaccard"),
        )
    )
    if table_format == "mtable":
        return _commit_graph_gold_mtable(spark, gold, out_path, n_buckets)
    gold.write.mode("overwrite").parquet(out_path)
    written = spark.read.parquet(out_path)
    return {
        "rows": written.count(),
        "parts_with_similar": written.where(F.size("top_similar") > 0).count(),
        "out_path": out_path,
    }


def _commit_graph_gold_mtable(
    spark: SparkSession, gold, out_path: str, n_buckets: int
) -> dict:
    """Commit the graph-feature gold as an ACID mtable with a
    BUCKET-SURGICAL publish (VERDICT r10 next-round #9: the graph plane
    gets the same ACID/incremental story the feature plane got in r9).

    The table partitions on ``part_bucket = part_id mod n_buckets`` (a
    string value — initial writes carry partition values as path
    strings).  A REBUILD diffs per-bucket content hashes — one order-
    insensitive sum of per-row ``xxhash64`` on each side, map-side
    combinable, zero rewrite — and ``overwrite_partitions`` ONLY the
    buckets whose content actually changed; unchanged buckets carry by
    reference, so the table's CHANGE FEED between graph versions is
    O(changed buckets), and a downstream CF-serving consumer
    (``ChangeFeedConsumer``) refreshes incrementally instead of
    re-reading the table.  An identical rebuild commits NOTHING (the
    no-op fast path).  Hash determinism: every gold column is integer-
    exact or a division of exact integers (operators/graph.py), so
    rebuilds of unchanged inputs are bit-identical.

    Reference stake: the reference rebuilds its whole feature parquet per
    run (jobs/build_feature_views.py); at 100 TB the graph gold is
    vertex-scale but the DELTA per day is small — this is the O(delta)
    publish for it."""
    from .sources.mtable import MTable

    gold_b = gold.withColumn(
        "part_bucket",
        F.format_string("b%02d", F.pmod(F.col("part_id"), F.lit(n_buckets))),
    )
    t = MTable(spark, out_path)
    changed: list[str] | None = None
    cur = t._latest()
    if cur is None:
        version = t.write(gold_b, partition_by="part_bucket", stats_cols=["part_id"])
    else:
        # pin the snapshot the diff was computed against: a commit racing
        # in between must trip the CAS (ConcurrentCommit), not be clobbered
        # — same invariant as the feature-plane publish above
        v0, _m0 = cur
        data_cols = [c for c in gold_b.columns if c != "part_bucket"]

        def bucket_hashes(df) -> dict:
            # decimal accumulation: a long sum of 64-bit hashes overflows
            # under ANSI; decimal(38,0) holds any realistic bucket exactly
            row_h = F.xxhash64(*data_cols).cast("decimal(38,0)")
            return {
                r.part_bucket: (r.h, r.n)
                for r in df.groupBy("part_bucket")
                .agg(F.sum(row_h).alias("h"), F.count(F.lit(1)).alias("n"))
                .collect()
            }

        new_h = bucket_hashes(gold_b)
        old_h = bucket_hashes(t.read(version=v0))
        changed = sorted(
            b
            for b in set(new_h) | set(old_h)
            if new_h.get(b) != old_h.get(b)
        )
        if changed:
            version = t.overwrite_partitions(
                gold_b.where(F.col("part_bucket").isin(changed)),
                partition_values=changed,
                stats_cols=["part_id"],
                base_version=v0,
            )
        else:
            version = v0  # identical rebuild: no commit
    written = t.read()
    return {
        "rows": written.count(),
        "parts_with_similar": written.where(F.size("top_similar") > 0).count(),
        "out_path": out_path,
        "version": version,
        "changed_buckets": changed,
    }

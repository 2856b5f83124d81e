"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

DRIFT-PROOF RECORD (VERDICT r10 next-round #1): two consecutive rounds of
uniform box drift (+19.5%, +26.5% on untouched code) made absolute seconds
meaningless round-over-round, so every query's DuckDB oracle is now
CO-MEASURED in the same run on the same box, and the per-query RATIO
(spark_sec / duck_sec) is the number of record; absolute seconds stay as
diagnostics.  A box that slows down slows both engines, so the ratio is
immune to drift by construction.

Prints TWO JSON lines: first the FULL per-query record — spark seconds,
duck seconds, and ratios (also persisted to BENCH_FULL_r{N}.json so the
record survives stdout tail truncation) — then a compact final summary
line with the aggregate/heavy/median ratios and the slowest-12 spark map,
guaranteed under the driver's ~2 kB tail buffer at any query count.

Method: each Spark query materializes through the noop sink (forces
evaluation of every output column — count() would let Catalyst prune the
feature columns away and fake the numbers), min-of-3; its DuckDB oracle
then runs on the same parquet (min-of-3, degraded to fewer runs past 5s /
20s so whale anchors don't dominate wall time).  Spark runs first, so the
OS page cache is warm for DuckDB — the bias favors the anchor, keeping
the recorded ratios conservative.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from retailfeaturestore_spark.queries import REGISTRY, invalidate_caches  # noqa: E402
from retailfeaturestore_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "feature_view_build",
    "training_set_build",
    "user_activity_features",
    "churn_labels_orders",
    "asof_join_clicks_purchases",
    "latest_event_per_user",
    "pricing_summary",
    "revenue_by_nation",
    "top_customers_by_revenue",
    "events_tumbling_daily",
    "dedup_exact",
    "dedup_minhash",
    "knn_cosine_bruteforce",
    "text_lang_id",
    "events_session_windows",
    "events_sliding_7d_daily",
    "value_percentiles",
    "revenue_rollup",
    "order_sequence_analytics",
    "daily_feature_snapshots",
    "cross_nation_trade",
    "segment_priority_cube",
    "promo_revenue_share",
    "nation_market_share",
    "order_count_distribution",
    "large_volume_orders",
    "discounted_revenue",
    "sole_return_supplier",
    "top_revenue_supplier",
    "small_qty_revenue",
    "top_balance_inactive_customers",
    "dedup_clusters",
    "dedup_edit_distance",
    "approx_distinct_users_daily",
    "decayed_user_value",
    "rfm_segments",
    "qty_price_correlation",
    "knn_ivf_kmeans",
    "data_quality_report",
    "stratified_sample_balanced",
    "doc_pack_context_windows",
    "benchmark_contamination",
    "doc_repetition_ratio",
    "brand_revenue_concentration",
    "min_price_supplier_per_part",
    "bulk_part_suppliers",
    "returns_by_priority",
    "linestatus_priority_counts",
    "supplier_variety_by_part",
    "tfidf_top_terms",
    "doc_lm_score",
    "bpe_token_count",
    "model_eval_auc",
    "model_calibration_bins",
    "xlsx_ingest_normalize",
    "doc_chunk_overlap",
    "corpus_token_budget_sample",
    "text_pii_scrub",
    "orders_range_join_followups",
    "events_funnel_conversion",
    "doc_quality_gopher",
    "ngram_topk_global",
    "supplier_profit_by_year",
    "user_retention_cohorts",
    "customer_priority_scd2",
    "segment_spend_deciles",
    "dedup_simhash",
    "corpus_curation_pipeline",
    "nation_daily_revenue_outliers",
    "late_shipment_priority_check",
    "dau_mau_stickiness",
    "feature_drift_bins",
    "session_event_transitions",
    "brand_basket_affinity",
    "order_interarrival_stats",
    "cohort_revenue_retention",
    "embedding_label_centroids",
    "feature_rank_normalize",
    "doc_ngram_commonality",
    "corpus_importance_sample",
    "embedding_dedup_clusters",
    "dedup_cross_source_matrix",
    "source_token_divergence",
    "knn_ivf_pq",
    "knn_mmr_diverse",
    "corpus_temperature_mix",
    "user_daily_snapshot_spine",
    "purchase_multitouch_attribution",
    "recs_negative_samples",
    "source_length_ks_drift",
    "seq_packing_chunks",
    "seq_packing_chunk_text",
    "seq_packing_ffd",
    "knn_recall_eval",
    "boilerplate_passage_scrub",
    "bm25_retrieval",
    "dedup_containment",
    "hybrid_retrieval_rrf",
    "training_shuffle_shards",
    "dedup_repeated_ngrams",
    "dedup_remove_repeated_spans",
    "part_pagerank_copurchase",
    "part_ppr_brand_affinity",
    "copurchase_triangles",
    "embedding_random_projection",
    "knn_projection_recall",
    "part_similar_by_copurchase",
    "semantic_dedup_embeddings",
    "approx_heavy_hitters",
    # headline row is the sketch-only deployment shape (VERDICT r11 #5);
    # the _months sibling keeps the exact-count verdict leg for the
    # correctness driver but is a verification harness, not a serving plan
    "approx_customer_overlap_sketch",
    "approx_customer_retention_months",
    "url_dedup_domains",
    "domain_quality_mix",
    "url_blocklist_screen",
]

# min-of-3: the first run of a plan pays whole-stage-codegen compilation and
# JIT tiering (the delta-distinct window family generates large codegen
# units whose first execution costs ~1-2s extra); the third run is the
# steady state a resident pipeline would see.
RUNS = 3

# Tags whose queries must run cold: "iterative" queries compute while
# building the plan (plan cache would hide runs 2-3's work); "graph"
# queries persist edge-scale frames and OOM under ~100 queries of
# accumulated session caches (BENCH_r06 was a heap-OOM crash record).
EVICT_TAGS = frozenset({"iterative", "graph"})

# Queries that memoize a session-resident artifact via get_or_register /
# the ranks memo (ADVICE r12 #3): without eviction, runs 2-3 reuse the
# artifact and min-of-3 records the warm path while the co-measured DuckDB
# anchor pays its full query every run — the ratio-of-record would be
# warm-only by construction.  These evict before EVERY run so the
# number-of-record (and the aggregate ratio) covers the honest build, and
# a FOURTH un-evicted run records the resident-serving timing as a
# separate diagnostic ("resident_warm" in BENCH_FULL).
RESIDENT_QUERIES = frozenset(
    {
        "hybrid_retrieval_rrf",
        "knn_ivf_kmeans",
        "knn_ivf_pq",
        "knn_recall_eval",
        "model_calibration_bins",
        "model_eval_auc",
        "rfm_segments",
    }
)


def _plan_holds_rdd_scan(df) -> bool:
    """True when the built plan embeds warm session state: an RDD scan
    (LogicalRDD / ExistingRDD — a localCheckpoint the query materializes
    on run 1 and would silently SERVE on runs 2-3 through the
    prepared-plan memo, r12 code-review finding) or a persisted frame
    (InMemoryRelation — a get_or_register artifact such as the r13 shared
    tokenization corpus; without eviction runs 2-3 would read the cached
    split while the co-measured DuckDB anchor re-tokenizes every run).
    createDataFrame literals also surface as ExistingRDD, so this
    over-detects — which only errs toward MORE eviction, i.e. more
    honest (cold) numbers."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:  # noqa: BLE001 — unplannable here: let the timed run decide
        return False
    return (
        "LogicalRDD" in plan
        or "ExistingRDD" in plan
        or "InMemoryRelation" in plan
    )


def _should_evict(tags: tuple[str, ...]) -> bool:
    return bool(EVICT_TAGS & set(tags))


def _evict_all(spark, sf_dir: str) -> None:
    """Free EVERYTHING the session holds for this dataset before an
    evict-tagged run: all prepared plans (not just the current query's —
    the r8 rank-engine queries localCheckpoint range-partitioned frames,
    and those blocks stay pinned for as long as ANY live plan references
    them; the first r8 bench attempt re-hit r6's triangles
    UNABLE_TO_ACQUIRE_MEMORY through exactly that pinning), every
    registered persisted frame, and the storage behind now-dead local
    checkpoints.  Checkpoint blocks have no DataFrame-level unpersist, so
    they are released SYNCHRONOUSLY through the JVM persistent-RDD map
    (unpersist every locally-checkpointed RDD — safe here because every
    plan that could reference one was just evicted; a System.gc()-driven
    ContextCleaner pass would work too but shrinks the heap, which cost
    the graph family seconds of re-expansion per run when measured).
    All of this runs OUTSIDE the timed section."""
    import gc

    invalidate_caches(spark, sf_dir=sf_dir)
    gc.collect()  # release py4j handles of the evicted plans' frames
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jid in list(jmap.keySet().toArray()):
        jrdd = jmap.get(jid)
        try:
            if jrdd is not None and jrdd.rdd().isLocallyCheckpointed():
                jrdd.rdd().unpersist(False)
        except Exception:  # noqa: BLE001 — raced ContextCleaner removal
            pass


def _duck_connect(sf_dir: str):
    """Embedded DuckDB with the testdata tables as views — the same-box
    anchor engine (the driver's own oracle setup, reproduced here)."""
    import duckdb

    from retailfeaturestore_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _time_duck(con, sql: str) -> float | None:
    """min-of-up-to-3 DuckDB anchor; run count degrades for whale anchors
    (>5s: min-of-2, >20s: single run) so the co-measurement doesn't
    dominate the bench's wall clock.  None = the anchor errored."""
    times = []
    for _ in range(3):
        t0 = time.time()
        try:
            con.execute(sql).fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"# duck anchor error: {type(e).__name__}", file=sys.stderr)
            return None
        times.append(time.time() - t0)
        if times[0] > 20:
            break
        if times[0] > 5 and len(times) >= 2:
            break
    return round(min(times), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Driver heap (r13): under the PySpark default (1g) the 32 concurrent
    # local-mode tasks share ~600 MB of unified memory — the triangles
    # wedge join's ShuffledHashJoin build sides starve it late in the run
    # (UNABLE_TO_ACQUIRE_MEMORY; the BENCH_r06 signature recurred on the
    # r13 box even with per-run eviction + retry).  bench.py launches the
    # FIRST session in its process, so spark.driver.memory set here DOES
    # reach the JVM launch (the session.py no-op caveat applies only to
    # already-running drivers, e.g. pytest).  Parameterized; 6g local
    # default is ~5% of the sandbox and changes no timing methodology —
    # on a cluster the launch environment sizes the driver instead.
    spark = get_spark(
        "rfs-bench",
        extra_conf={
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEMORY", "6g"
            )
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    duck = _duck_connect(sf_dir)

    # Untimed harness warmup: pays one-time JVM/codegen/scan-cache costs so
    # the first timed query isn't charged for session spin-up (the DuckDB
    # baseline comparison likewise excludes process start).
    REGISTRY["normalize_lineitem"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    timings: dict[str, float] = {}
    anchors: dict[str, float | None] = {}
    resident_warm: dict[str, float] = {}
    for name in HEADLINE:
        qd = REGISTRY[name]
        # Iterative queries (connected-components convergence loop, KMeans
        # centroid training) do real distributed compute while BUILDING the
        # plan; the prepared-plan cache would hide that work from runs 2-3
        # and min-of-3 would time only the final cached projection.  Honest
        # protocol: evict the cached plan AND every session-held persisted
        # frame (minhash signature artifact, KMeans quantized corpus) so every run
        # pays the full build + execute (ADVICE round 2: plan eviction
        # alone left persisted frames warm across runs).
        #
        # The "graph" tag gets the same treatment for a different reason
        # (VERDICT r6 "what's wrong" #1): copurchase_triangles persists two
        # edge-scale frames and runs its 38-task wedge join LATE in the
        # headline order, after ~100 queries have accumulated sf-scoped
        # persisted frames (pagerank edges/vbase, signature artifacts, PQ
        # corpus...) in the default 1 GiB unified region — the join stage
        # then dies UNABLE_TO_ACQUIRE_MEMORY even though the standalone
        # plan is right (11.3 s, 2x faster than DuckDB).  Evicting all
        # sf-scoped caches before each run both frees that region and keeps
        # the timing honest (every run pays its own persist build).
        # detection order: hand list first (no build), then tag eviction
        # (iterative queries compute while PLANNING — building them here
        # just to inspect the plan would run that work un-timed), then the
        # plan inspection for everything else
        resident = name in RESIDENT_QUERIES
        evict = _should_evict(qd.tags) or resident
        if not evict and _plan_holds_rdd_scan(qd.fn(spark, sf_dir)):
            resident = evict = True
        best = None
        for _ in range(RUNS):
            if evict:
                _evict_all(spark, sf_dir)
            t0 = time.time()
            try:
                qd.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                # BENCH_r07 was lost to a transient environment fault (the
                # sandbox evicted /tmp blockmgr files mid-run).  local.dir
                # is now pinned off /tmp (session.py), but one retry per
                # run keeps a single environmental hiccup from costing the
                # round's entire performance record.  Retry from a clean
                # slate: cached plans/frames may reference lost shuffle
                # files or starved memory, so evict before re-running.
                print(f"# retry {name}: {type(e).__name__}", file=sys.stderr)
                _evict_all(spark, sf_dir)
                t0 = time.time()
                qd.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        if resident:
            # run 3 left the artifact warm — one extra un-evicted run is
            # the resident-serving number (diagnostic only, never the
            # number-of-record)
            t0 = time.time()
            qd.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            resident_warm[name] = round(time.time() - t0, 3)
        # same-box, same-run anchor: the oracle SQL on the same parquet
        anchors[name] = _time_duck(duck, qd.oracle) if qd.oracle else None

    ratios = {
        n: round(timings[n] / anchors[n], 3)
        for n in timings
        if anchors.get(n)
    }
    total = round(sum(timings.values()), 3)
    # Round-over-round comparability: against the previous round's recorded
    # bench, report the shared-query-set totals so renames/additions never
    # cost a round of comparability.
    prev = _load_prev_bench()
    versus_prev = None
    if prev:
        shared = sorted(set(timings) & set(prev))
        versus_prev = {
            "n_shared": len(shared),
            "total_sec": round(sum(timings[q] for q in shared), 3),
            "prev_total_sec": round(sum(prev[q] for q in shared), 3),
        }
    prev_ratio = _load_prev_ratios()
    ratio_delta: dict[str, float] = {}
    if prev_ratio and versus_prev is not None:
        rshared = sorted(set(ratios) & set(prev_ratio))
        if rshared:
            # the drift-proof comparison: both sides are same-box ratios
            versus_prev["ratio_shared_n"] = len(rshared)
            versus_prev["ratio_median"] = sorted(
                ratios[q] for q in rshared
            )[len(rshared) // 2]
            versus_prev["prev_ratio_median"] = sorted(
                prev_ratio[q] for q in rshared
            )[len(rshared) // 2]
            # per-query ratio-over-ratio deltas (VERDICT r11 next-round
            # #8): the full map goes to BENCH_FULL; the compact line
            # carries the 3 worst regressions so a plan regression
            # auto-flags even if only the summary survives
            ratio_delta = {
                q: round(ratios[q] - prev_ratio[q], 3) for q in rshared
            }
            worst = sorted(ratio_delta, key=lambda q: -ratio_delta[q])[:3]
            versus_prev["ratio_regressions"] = {
                q: [prev_ratio[q], ratios[q]]
                for q in worst
                if ratio_delta[q] > 0.1
            }

    # The driver's tail capture is ~2 kB; at 77+ headline queries one JSON
    # line with the full per-query map outgrew it and BENCH_r04.json
    # recorded `parsed: null` (VERDICT round 4, "What's wrong" #1).  So:
    # (1) the full per-query map goes out FIRST on its own line (and is
    # persisted to BENCH_FULL_r{N}.json so the per-query record survives
    # any stdout truncation and feeds next round's versus_prev), and
    # (2) the FINAL line is a compact summary — total, sf, versus_prev,
    # and the slowest-12 sub-map — guaranteed well under 2 kB at any
    # future query count.
    import duckdb as _duckdb_mod

    full = {
        "metric": "headline_queries_full",
        "unit": "sec",
        "queries": timings,
        "duck": anchors,
        "ratio": ratios,
        # resident-artifact queries: number-of-record above is the honest
        # evicted build; this is the warm serving path (ADVICE r12 #3)
        "resident_warm": resident_warm,
        # build-amortized per-query ratios (VERDICT r12 next-round #5b):
        # for resident index/rank artifacts the build is O(1) per corpus
        # version while serving is the recurring cost, so the amortized
        # ratio substitutes the warm serving time for those queries.  The
        # honest ratio above stays the number of record; this leg records
        # what a deployment that builds once and serves many would pay.
        "ratio_amortized": {
            n: round(resident_warm[n] / anchors[n], 3)
            for n in resident_warm
            if anchors.get(n)
        },
        # per-query (this round's ratio − previous round's ratio); the
        # box-drift-immune regression detector (VERDICT r11 #8)
        "ratio_delta_vs_prev": ratio_delta,
        "duckdb_version": _duckdb_mod.__version__,
        "sf": float(sf),
    }
    print(json.dumps(full), flush=True)
    _persist_full_record(full)

    heavy = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:12])
    # r14: the compact dict is slowest-12 UNION the previous round's
    # headline names — membership was purely dynamic before, so a query
    # that got FASTER fell out of the dict and the driver's round-over-
    # round diff flagged it as "dropped_from_bench" (PERF r13 noted three
    # such false drops).  Additive only (entries are never removed or
    # renamed, per the bench contract); size stays bounded at 12 + churn,
    # well under the driver's ~2 kB tail buffer.
    for n in _load_prev_headline_names():
        if n in timings:
            heavy.setdefault(n, timings[n])
    anchored = sorted(ratios)
    spark_anchored = sum(timings[n] for n in anchored)
    duck_anchored = sum(anchors[n] for n in anchored)
    rvals = sorted(ratios.values())
    heavy_names = [n for n in anchored if anchors[n] >= 0.3]
    ratio_summary = {
        "n_anchored": len(anchored),
        # aggregate = total Spark seconds / total DuckDB seconds on the
        # anchored set, measured in THIS run on THIS box — the drift-proof
        # headline number (1.0 = parity with the embedded oracle engine)
        "aggregate": round(spark_anchored / duck_anchored, 3)
        if duck_anchored
        else None,
        "median": rvals[len(rvals) // 2] if rvals else None,
        # the subset doing real work (anchor >= 0.3s): flat per-job
        # overhead on sub-second anchors can't masquerade as a plan problem
        "heavy": round(
            sum(timings[n] for n in heavy_names)
            / sum(anchors[n] for n in heavy_names),
            3,
        )
        if heavy_names
        else None,
        # worst heavy-anchor ratios: the rows to actually look at
        "worst_heavy": {
            n: ratios[n]
            for n in sorted(
                heavy_names, key=lambda n: -ratios[n]
            )[:5]
        },
        # heavy-subset ratio with resident builds amortized (warm serving
        # substituted for resident-artifact queries — VERDICT r12 #5b:
        # builds are O(1) per corpus version, serving recurs).  Honest
        # `heavy` above remains the number of record.
        "heavy_amortized": round(
            sum(resident_warm.get(n, timings[n]) for n in heavy_names)
            / sum(anchors[n] for n in heavy_names),
            3,
        )
        if heavy_names
        else None,
    }
    out = {
        "metric": "headline_queries_total_wall_sec",
        "value": total,
        "unit": "sec",
        "sf": float(sf),
        "n_queries": len(timings),
        "ratio_vs_duckdb_samebox": ratio_summary,
        # Slowest-12 only: the full map is on the FIRST stdout line and in
        # BENCH_FULL_r{N}.json — this final line must stay under the
        # driver's ~2 kB tail buffer at any future query count.
        "queries": heavy,
        "full_record": f"BENCH_FULL_r{_current_round()}.json",
    }
    if versus_prev:
        out["versus_prev"] = versus_prev
    print(json.dumps(out))


def _bench_round_files(pattern: str) -> list[tuple[int, str]]:
    """(round, path) pairs for repo-root bench artifacts, newest first."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    out = []
    for p in glob.glob(os.path.join(here, pattern)):
        m = re.search(r"_r(\d+)\.json$", p)
        if m:
            out.append((int(m.group(1)), p))
    return sorted(out, reverse=True)


def _current_round() -> int:
    """The in-progress round: the driver writes BENCH_r{N}.json AFTER running
    bench, so at bench time the newest driver artifact on disk is round N-1."""
    rounds = _bench_round_files("BENCH_r*.json")
    return (rounds[0][0] + 1) if rounds else 1


def _persist_full_record(full: dict) -> None:
    """Write the full per-query map to BENCH_FULL_r{N}.json (driver-protocol
    sf only, so dev runs at sf0.01 never clobber the round record)."""
    if full["sf"] != 0.1:
        return
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, f"BENCH_FULL_r{_current_round()}.json")
    try:
        with open(path, "w") as f:
            json.dump(full, f, indent=1)
            f.write("\n")
    except OSError:
        pass


def _load_prev_headline_names() -> list[str]:
    """The previous round's compact-line headline names that are still
    registered, from the parsed record of BENCH_r{N}.json — strictly prior
    rounds only, most recent first.  Empty when no prior record exists;
    errors degrade to the bare slowest-12."""
    cur = _current_round()
    for n, path in sorted(
        _bench_round_files("BENCH_r*.json"), key=lambda t: -t[0]
    ):
        if n >= cur:
            continue
        try:
            with open(path) as f:
                parsed = json.load(f).get("parsed") or {}
            q = parsed.get("queries") if isinstance(parsed, dict) else None
            if q:
                return [n for n in q if n in REGISTRY]
        except (OSError, ValueError):
            continue
    return []


def _load_prev_ratios() -> dict[str, float] | None:
    """Previous round's per-query same-box ratios from its FULL record
    (absent before r11 — the first ratio-instrumented round).  Strictly
    PRIOR rounds only: a same-round builder re-run must not compare
    against itself."""
    cur = _current_round()
    for _n, path in _bench_round_files("BENCH_FULL_r*.json"):
        if _n >= cur:
            continue
        try:
            with open(path) as f:
                r = json.load(f).get("ratio")
            if r:
                return {k: float(v) for k, v in r.items()}
        except (OSError, ValueError):
            continue
    return None


def _load_prev_bench() -> dict[str, float] | None:
    """Previous round's per-query timings, in trust order: the driver's
    parsed BENCH_r{N}.json when it carries a full map (authoritative for
    its round), then our own BENCH_FULL_r{N}.json (complete by
    construction but can be a mislabeled post-driver confirmation run),
    then regex salvage from a truncated driver tail."""
    import re

    cur = _current_round()
    full_by_round = dict(_bench_round_files("BENCH_FULL_r*.json"))
    driver_by_round = dict(_bench_round_files("BENCH_r*.json"))
    for n in range(cur - 1, 0, -1):
        # The driver's parsed artifact is authoritative for round n (our
        # FULL record for the same n can be a mislabeled confirmation run
        # made after the driver already recorded BENCH_r{n}); fall back to
        # the FULL record, then to tail salvage.
        if n in driver_by_round:
            try:
                with open(driver_by_round[n]) as f:
                    parsed = json.load(f).get("parsed") or {}
                q = parsed.get("queries") if isinstance(parsed, dict) else None
                # the compact final line carries only the slowest-12 —
                # treat it as partial and prefer the FULL record below
                if q and len(q) > 15:
                    return {k: float(v) for k, v in q.items()}
            except (OSError, ValueError):
                pass
        if n in full_by_round:
            try:
                with open(full_by_round[n]) as f:
                    q = json.load(f).get("queries")
                if q:
                    return {k: float(v) for k, v in q.items()}
            except (OSError, ValueError):
                pass
        if n in driver_by_round:
            try:
                with open(driver_by_round[n]) as f:
                    doc = json.load(f)
                # Truncated tail: extract whatever "name": float pairs survive.
                tail = doc.get("tail") or ""
                pairs = re.findall(r'"([a-z0-9_]+)":\s*([0-9]+\.[0-9]+)', tail)
                if len(pairs) >= 10:
                    return {k: float(v) for k, v in pairs}
            except (OSError, ValueError):
                pass
    return None


if __name__ == "__main__":
    main()

"""Plan-shape regression tests: the scale properties the engine promises
(broadcast dims, pushdown to scans, codegen coverage) asserted on real plans.
Uses sf0.001 — plan shape, not data, is under test."""

from __future__ import annotations

import pytest

from retailfeaturestore_spark.plans import (
    formatted_plan,
    has_broadcast_join,
    has_sort_merge_join,
    pushed_filters,
    wholestage_codegen_spans,
)
from retailfeaturestore_spark.queries import REGISTRY

from conftest import requires_testdata

pytestmark = requires_testdata

SF = "/root/testdata/sf0.001"


def test_revenue_join_broadcasts_dims_and_sortmerges_facts(spark):
    df = REGISTRY["revenue_by_nation"].fn(spark, SF)
    assert has_broadcast_join(df)  # nation/region/customer
    # fact-fact lineitem ⋈ orders must NOT be a nested loop
    assert "BroadcastNestedLoopJoin" not in formatted_plan(df)


def test_date_filter_pushes_to_scan(spark):
    df = REGISTRY["pricing_summary"].fn(spark, SF)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed


def test_normalize_prunes_columns(spark):
    """Projection must reach the scan: unused lineitem columns (l_comment-
    style) absent from ReadSchema."""
    df = REGISTRY["normalize_lineitem"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "l_suppkey" not in plan  # never referenced -> pruned from scan


def test_feature_view_single_exchange(spark):
    """The whole W1-W6 family — including the whale-safe interval-delta
    distinct engine — must reuse ONE hash shuffle on the entity key (the
    delta operator's ``__e`` alias): the W1-W5 range frames and tenure ride
    the delta pass's exchange via alias-aware projection.  A second
    non-broadcast Exchange means that layout sharing broke."""
    df = REGISTRY["feature_view_build"].fn(spark, SF)
    plan = formatted_plan(df)
    # formatted mode prints each shuffle as "(N) Exchange" with an
    # "Arguments: hashpartitioning(...)" detail line
    n_hash_exchanges = plan.count("Arguments: hashpartitioning")
    assert n_hash_exchanges == 1, plan[:2000]


def test_delta_engine_v4_one_sort_one_window_pass(spark):
    """The interval-delta engine's v4 shape (windowed_distinct.py): exactly
    TWO Sort nodes total — the lag's (e, key, t) pre-sort and the single
    post-explode (e, time) sort (v3 paid a third sort for a (time, kind)
    rows frame) — and exactly THREE WindowExec passes: the lag pre-pass,
    the delta sums (all growing range frames in ONE pass), and the W1-W5 +
    tenure family on the filtered rows (tenure folded in as a running min;
    it used to be a fourth, unordered pass).  More of either means the
    +1µs shift or the frame grouping regressed.  The whole family shares
    ONE customer_id shuffle."""
    import re

    df = REGISTRY["feature_view_build"].fn(spark, SF)
    plan = formatted_plan(df)
    sorts = len(re.findall(r"\(\d+\) Sort\b", plan))
    windows = len(re.findall(r"\(\d+\) Window\b", plan))
    assert sorts == 2, f"expected 2 sorts, got {sorts}\n{plan[:2000]}"
    assert windows == 3, f"expected 3 window passes, got {windows}\n{plan[:2000]}"
    assert plan.count("hashpartitioning(customer_id") == 1, plan[:2000]


def test_interval_labels_plan_has_no_join(spark):
    """J2 is the union-window formulation: zero join nodes."""
    df = REGISTRY["churn_labels_orders"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan[:2000]


def test_codegen_covers_hot_path(spark):
    df = REGISTRY["pricing_summary"].fn(spark, SF)
    df.collect()  # AQE: codegen spans appear in the executed (final) plan
    assert wholestage_codegen_spans(df) >= 1


def test_pricing_summary_has_partial_aggregation(spark):
    """Map-side combine must exist: partial_sum before the exchange."""
    plan = formatted_plan(REGISTRY["pricing_summary"].fn(spark, SF))
    assert "partial_sum" in plan


def test_discounted_revenue_splits_or_predicates_to_scans(spark):
    """Q19 shape: Catalyst must derive per-side implied filters from the
    OR-of-ANDs and push them into BOTH scans (brand/size to part, quantity
    to lineitem)."""
    df = REGISTRY["discounted_revenue"].fn(spark, SF)
    pushed = pushed_filters(df)
    assert any("p_brand" in p for p in pushed), pushed
    assert any("l_quantity" in p for p in pushed), pushed
    assert has_broadcast_join(df)


def test_nation_market_share_broadcasts_all_dims(spark):
    """Q8 shape: five-way star — every dimension side must broadcast; the
    only sort-merge (if any) is fact-fact lineitem ⋈ orders."""
    df = REGISTRY["nation_market_share"].fn(spark, SF)
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "BroadcastNestedLoopJoin" not in plan


def test_order_count_distribution_keeps_left_join(spark):
    """Q13 shape: the priority filter must stay INSIDE the left join (a
    post-join WHERE would silently drop zero-order customers)."""
    plan = formatted_plan(REGISTRY["order_count_distribution"].fn(spark, SF))
    assert "LeftOuter" in plan or "left_outer" in plan.lower(), plan[:1500]


def test_doc_pack_single_exchange(spark):
    """Packing = one running-sum window + grouping on a prefix of the same
    keys: the groupBy(lang, bin) must reuse the window's hashpartitioning
    (lang) exchange (subset-clustering satisfaction) — ONE shuffle total."""
    df = REGISTRY["doc_pack_context_windows"].fn(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("Arguments: hashpartitioning") == 1, plan[:2000]


def test_contamination_broadcasts_benchmark_set(spark):
    """The held-out shingle set must broadcast; the corpus postings must
    never be cartesian-joined."""
    df = REGISTRY["benchmark_contamination"].fn(spark, SF)
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan


def test_kmeans_corpus_never_sort_merges(spark):
    """Each Lloyd iteration broadcasts k centroid rows against the corpus;
    the vectors themselves must not be sort-merge-joined or cartesian-paired
    with each other."""
    df = REGISTRY["knn_ivf_kmeans"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan


def test_training_set_build_single_exchange_no_join(spark):
    """The folded-label training set (r4): orders ride the bronze window
    input as marker rows, so the ENTIRE training set — features, tenure,
    churn label, one-hot, split flag — is one wide shuffle with the same
    window shape as the flagship (2 sorts, 3 WindowExec passes) and ZERO
    join on the label side (the only joins are the broadcast dims inside
    bronze).  A SortMergeJoin or a second hash exchange means the label
    fold regressed to the old two-pass + J1 plan."""
    import re

    df = REGISTRY["training_set_build"].fn(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("Arguments: hashpartitioning") == 1, plan[:2000]
    assert not has_sort_merge_join(df)
    sorts = len(re.findall(r"\(\d+\) Sort\b", plan))
    windows = len(re.findall(r"\(\d+\) Window\b", plan))
    assert sorts == 2, f"expected 2 sorts, got {sorts}"
    assert windows == 3, f"expected 3 window passes, got {windows}"


def test_funnel_single_exchange(spark):
    """The three chained stage windows + the per-user collapse must share
    ONE hash exchange on user_id — re-shuffling between stages would mean
    the chain broke into separate exchanges."""
    df = REGISTRY["events_funnel_conversion"].fn(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("Arguments: hashpartitioning") == 1, plan[:2000]


def test_scd2_one_exchange_one_sort(spark):
    df = REGISTRY["customer_priority_scd2"].fn(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("Arguments: hashpartitioning") == 1, plan[:2000]
    assert plan.count("+- Sort") == 1, plan[:2000]


def test_supplier_profit_broadcasts_dims(spark):
    df = REGISTRY["supplier_profit_by_year"].fn(spark, SF)
    assert has_broadcast_join(df)
    assert "BroadcastNestedLoopJoin" not in formatted_plan(df)


def test_deciles_ranking_is_partitioned(spark):
    """ntile must run under PARTITION BY segment — a SinglePartition window
    exchange would be the global-sort anti-pattern."""
    df = REGISTRY["segment_spend_deciles"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "SinglePartition" not in plan, plan[:2000]


def test_global_rank_consumers_have_no_partitionless_window(spark):
    """The three r6-flagged global windows (rfm_segments ntile×3,
    model_calibration_bins ntile(10), exact_auc cumulative count) now run
    on operators/ranks.py: every Window in their plans must be partitioned
    by the range-engine pid, and no exchange may be SinglePartition —
    except model_eval_auc's FINAL 1-row scalar aggregate, which is
    single-partition by definition (partial-agg pushed map-side)."""
    for name in ("rfm_segments", "model_calibration_bins"):
        plan = formatted_plan(REGISTRY[name].fn(spark, SF))
        assert "SinglePartition" not in plan, (name, plan[:2000])
        assert "windowspecdefinition(__rp_pid" in plan, (name, plan[:2000])
    plan = formatted_plan(REGISTRY["model_eval_auc"].fn(spark, SF))
    assert plan.count("SinglePartition") == 1, plan[:2000]  # the scalar agg
    assert "windowspecdefinition(__rp_pid" in plan, plan[:2000]


def test_repeated_ngram_ops_scale_shape(spark):
    """Substring-dedup pair: gram counting must be a partial-aggregable
    groupBy feeding a real shuffle join (never a count-over-gram window —
    the whale-gram one-task trap — and never a nested loop); the only
    windows are per-doc island merges; no single-partition stage."""
    for name in ("dedup_repeated_ngrams", "dedup_remove_repeated_spans"):
        plan = formatted_plan(REGISTRY[name].fn(spark, SF))
        assert "SinglePartition" not in plan, (name, plan[:1500])
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan[:1500])
        assert "windowspecdefinition(gram" not in plan, (name, plan[:1500])
        assert "partial_count" in plan, (name, plan[:1500])


def test_gopher_and_pii_are_map_only(spark):
    """Quality flags and PII scrub are row-local column algebra: zero
    exchanges of any kind in the plan."""
    for name in ("doc_quality_gopher", "text_pii_scrub"):
        plan = formatted_plan(REGISTRY[name].fn(spark, SF))
        assert "Exchange" not in plan, (name, plan[:1500])


def test_interarrival_single_exchange(spark):
    """lag window + per-customer agg share ONE exchange (grouping on the
    window's own key, aliased after)."""
    df = REGISTRY["order_interarrival_stats"].fn(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("Arguments: hashpartitioning") == 1, plan[:2000]


def test_centroids_single_exchange(spark):
    """One demanded exchange (the label rollup); the footer-gated scan
    rescue (r13) may add its explicit width repartition on this
    single-row-group layout."""
    import re

    df = REGISTRY["embedding_label_centroids"].fn(spark, SF)
    plan = formatted_plan(df)
    demanded = len(
        re.findall(r"hashpartitioning\([^)]*\), ENSURE_REQUIREMENTS", plan)
    )
    assert demanded == 1, plan[:2000]
    other = plan.count("Arguments: hashpartitioning") - demanded
    assert other == plan.count("REPARTITION_BY_NUM"), plan[:2000]


def test_curation_exchange_budget(spark):
    """Digest window + contamination agg + doc_id join + tiny source
    rollup: exactly four hash exchanges, no nested loops beyond broadcast
    scalars, no single-partition windows."""
    df = REGISTRY["corpus_curation_pipeline"].fn(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("Arguments: hashpartitioning") == 4, plan[:2000]
    assert "SinglePartition" not in plan


def test_affinity_two_exchanges(spark):
    """Per-order brand bitmask accumulation + the tiny pair rollup: two
    hash exchanges, no self-join re-shuffle."""
    df = REGISTRY["brand_basket_affinity"].fn(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("Arguments: hashpartitioning") == 2, plan[:2000]
    assert "SortMergeJoin" not in plan


def test_stickiness_scanline_exchange_budget(spark):
    """The interval-coverage stickiness plan: data-scale work is the
    day-user distinct plus the per-user lead() sort — at most three hash
    exchanges (distinct, user window, day rollup) and NO 28x offset
    explode feeding an expand-based distinct aggregate.  The one
    single-partition window is the day-spine running sum (day-grain by
    construction)."""
    df = REGISTRY["dau_mau_stickiness"].fn(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("Arguments: hashpartitioning") <= 4, plan[:2000]
    # the countDistinct expand operator must be gone
    assert "Expand" not in plan, plan[:2000]
    assert "SinglePartition" in plan  # day-spine cumsum, intentional
    # day-grain sides broadcast: no sort-merge join anywhere
    assert not has_sort_merge_join(df)


def test_affinity_pair_explode_is_codegen(spark):
    """Pair generation must run inside whole-stage codegen (the lambda-HOF
    formulation ran interpreted, +0.7s at sf0.1): both explode(sequence)
    generators sit inside codegen spans, and no higher-order-function
    expression remains in the plan."""
    df = REGISTRY["brand_basket_affinity"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "transform(" not in plan and "filter(lambda" not in plan, plan[:2000]
    # exactly two Generate nodes, both explode (detail lines print the
    # operator as "(N) Generate" with the explode in Arguments)
    import re

    assert len(re.findall(r"\(\d+\) Generate", plan)) == 2, plan[:2000]
    assert plan.count("Arguments: explode") == 2, plan[:2000]
    df.collect()  # AQE: codegen spans appear in the executed (final) plan
    assert wholestage_codegen_spans(df) >= 2


def test_cross_source_matrix_broadcasts_pairs(spark):
    """The corpus-sized (doc_id, source) projection must never shuffle:
    the pair-derived frame is the broadcast side of both source-attach
    joins, and nothing degenerates to a cartesian pairing."""
    df = REGISTRY["dedup_cross_source_matrix"].fn(spark, SF)
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan
    # the only sort-merge allowed is none: both attaches are broadcast
    assert not has_sort_merge_join(df), plan[:2000]


def test_pq_adc_scoring_is_join_free_single_exchange(spark):
    """PQ/ADC promise: codebooks and LUTs are literals, so the scoring
    pass is a pure map over the encoded corpus — NO join anywhere in the
    final plan, and the only DATA shuffle is the per-query top-k window
    (r13: plus the footer-gated scan-rescue repartition — an explicit
    REPARTITION_BY_NUM that fires on this single-row-group testdata layout
    to un-serialize the encode, never on a multi-row-group production
    layout — so the assertion distinguishes demanded shuffles
    (ENSURE_REQUIREMENTS) from the deliberate width exchange)."""
    import re

    df = REGISTRY["knn_ivf_pq"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan[:2000]
    demanded = len(
        re.findall(r"hashpartitioning\([^)]*\), ENSURE_REQUIREMENTS", plan)
    )
    assert demanded == 1, plan[:2000]
    # every other hash exchange must be the scan-rescue width repartition
    other = plan.count("Arguments: hashpartitioning") - demanded
    assert other == plan.count("REPARTITION_BY_NUM"), plan[:2000]


def test_mmr_broadcasts_candidates_never_shuffles_corpus(spark):
    """MMR: the candidate list (query-workload sized) broadcasts against
    the corpus scan for vector re-attachment — the corpus must never
    sort-merge — and the selection loop runs as Arrow-batched
    FlatMapGroupsInPandas."""
    df = REGISTRY["knn_mmr_diverse"].fn(spark, SF)
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)
    assert "FlatMapGroupsInPandas" in plan


def test_snapshot_spine_single_data_exchange(spark):
    """Dense daily spine: hash(user_id) repartition serves the (user, day)
    aggregation, both running sums, and lead() — exactly ONE
    data-scale hash exchange; the corpus-end day rides a ts-only
    single-row broadcast (no second data-sized exchange)."""
    df = REGISTRY["user_daily_snapshot_spine"].fn(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("Arguments: hashpartitioning") == 1, plan[:3000]
    assert "SortMergeJoin" not in plan


def test_multitouch_range_join_is_equi_not_nested_loop(spark):
    """The 7-day click window must run as the bucketed (user, bucket)
    equi-join — never a nested-loop/cartesian range predicate — and the
    per-purchase rank is the only data-scale hash exchange."""
    df = REGISTRY["purchase_multitouch_attribution"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Arguments: hashpartitioning") == 1, plan[:2000]


def test_negative_samples_single_exchange_no_cartesian(spark):
    """Negative sampling must never materialize a customer x part cross
    product — and after the r10 fold it needs exactly ONE data-volume
    exchange: the null-tagged union of the order spine and the purchase
    pairs collapses into a single collect_set groupBy, and the selection
    is per-row array algebra (no anti join, no window, no survivor
    re-exchange; Spark 4's requireAllClusterKeysForCoPartition default
    made the old 3-exchange anti-join plan unsalvageable)."""
    df = REGISTRY["recs_negative_samples"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    # one hash exchange (the spine+pairs collect_set groupBy); the
    # SinglePartition exchange under the one-row part-domain aggregate and
    # the broadcasts are not data-scale shuffles
    assert plan.count("Arguments: hashpartitioning") <= 1, plan[:2500]


def test_summary_queries_scan_corpus_once(spark):
    """temperature-mix and KS-drift derive several consumers from one
    corpus-scan aggregate; the localCheckpoint cut must hold so the final
    plan re-reads the tiny summary, not the parquet corpus."""
    for name in ("corpus_temperature_mix", "source_length_ks_drift"):
        df = REGISTRY[name].fn(spark, SF)
        plan = formatted_plan(df)
        assert plan.count("Scan parquet") == 0, (name, plan[:1500])


def test_lm_score_single_pair_count_exchange(spark):
    """doc_lm_score's scale contract: the data-scale pair projection is
    materialized once, the pair-count aggregate executes once (c2 is
    checkpointed before its two consumers), the vocabulary-sized model
    side broadcasts, and no cartesian product exists beyond the one-row
    V broadcast."""
    df = REGISTRY["doc_lm_score"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    # exchanges: doc-rollup + (at most) the pairs side of the scoring
    # join; the c2 groupBy must NOT appear as a second full aggregate
    # subtree over the pairs scan
    assert plan.count("Arguments: hashpartitioning") <= 3, plan[:2500]


def test_pack_chunks_single_exchange(spark):
    """Concat-and-chunk packing: the shard window's hash exchange must be
    the ONLY shuffle — the (shard, chunk_id) rollup's clustering is
    satisfied by the existing hashpartitioning(shard) (partial agg feeds a
    co-partitioned final agg, no second Exchange)."""
    df = REGISTRY["seq_packing_chunks"].fn(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("Arguments: hashpartitioning") == 1, plan[:2000]


def test_pack_chunk_text_single_exchange(spark):
    """The materialized packing rollup must also reuse the shard window's
    partitioning — text crosses exactly one shuffle."""
    df = REGISTRY["seq_packing_chunk_text"].fn(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("Arguments: hashpartitioning") == 1, plan[:2000]


def test_containment_builds_rare_posting_artifact_once(spark):
    """containment_pairs feeds four consumers from one rare-posting table:
    with cache_scope the shingle+md5+df-window pass must appear as a SINGLE
    digest exchange feeding InMemoryTableScans, not four rebuilt subtrees
    (the un-persisted plan recomputes the scan+Generate 4x — measured)."""
    df = REGISTRY["dedup_containment"].fn(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("hashpartitioning(shd") == 1, plan[:2000]
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan


def test_rrf_halves_keep_their_scale_shapes(spark):
    """Fusion must not degrade either half: dense = broadcast queries over
    the corpus (BNLJ, corpus never exchanged before scoring), lexical =
    map-side tf (r11 re-plan: the old token-explode + LeftSemi prune is
    gone — term counting happens in codegen before any exchange, so no
    sort-merge join may appear anywhere), and no cartesian product in the
    fused plan."""
    df = REGISTRY["hybrid_retrieval_rrf"].fn(spark, SF)
    plan = formatted_plan(df)
    import re

    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # broadcast(3 queries) x corpus
    # the ONLY sort-merge join is the top-k-sized FullOuter fusion merge;
    # nothing corpus-scale sort-merges (lexical tf is map-side since r11)
    smj = re.findall(r"SortMergeJoin \w+", plan)
    assert set(smj) <= {"SortMergeJoin FullOuter"}, smj


def test_epoch_shuffle_is_one_shard_exchange_plus_sort(spark):
    """training_shuffle_shards IS the sharded-write shape: exactly one hash
    exchange (on shard) and an in-partition sort — no global sort, no
    rangepartitioning."""
    df = REGISTRY["training_shuffle_shards"].fn(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("Arguments: hashpartitioning") == 1, plan[:2000]
    assert "hashpartitioning(shard" in plan
    assert "rangepartitioning" not in plan


def test_pagerank_iteration_joins_never_broadcast(spark):
    """The AQE-at-runtime hazard this pins: the columnar edge cache looks
    threshold-small but explodes ~10x as a driver-side HashedRelation
    (OOM'd a default-heap local[32] at sf0.1).  The shuffle_hash hints must
    hold: rank/deg tables are per-partition build sides and nothing in the
    iteration pipeline is a broadcast join (r13: the edge build itself is
    join-free — collect_set + explode)."""
    df = REGISTRY["part_pagerank_copurchase"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" in plan
    assert "BroadcastExchange" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_triangles_all_edge_scale_joins_shuffle_hash(spark):
    """Degree-oriented triangle counting: every EDGE/VERTEX-SCALE join is
    shuffle-based (same AQE HashedRelation hazard pagerank pins) and the
    closing edge is a single equi-join.  The ONE permitted broadcast is the
    r13 bit-word pre-filter table (guide §3.2 Bloom-style: one bit per
    closing key, bit_or-aggregated into 64-bit words; it drops non-closing
    wedges map-side before the closing-join exchange) — a capped-size
    relation (2^27-bit domain ceiling = 16 MiB of words), never an
    edge-scale table."""
    import re

    df = REGISTRY["copurchase_triangles"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" in plan
    # the word-table join is the only broadcast shape, and it must
    # actually gate the wedge stream (bit_or build, shiftright probe)
    assert "bit_or" in plan
    assert "shiftright" in plan
    for block in plan.split("\n\n"):
        head = block.splitlines()[0] if block.splitlines() else ""
        if re.match(r"\(\d+\) BroadcastHashJoin", head):
            assert "[__w" in block, head  # capped word-index key only
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_similar_parts_no_broadcast_no_cartesian(spark):
    """Item-item CF: every join side is edge/vertex-scale — the capped
    adjacency, its self-join, and the degree attaches must be
    shuffle-based (the graph family's AQE HashedRelation lesson)."""
    df = REGISTRY["part_similar_by_copurchase"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" in plan
    assert "BroadcastExchange" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan


@pytest.mark.slow  # driver verify-window fit (r14): see pyproject addopts
def test_change_feed_prunes_columns_and_aggregates_map_side(spark):
    """The CDC netting plan: every change-set scan's ReadSchema is pruned
    to exactly the 3 output columns (the partition-restore regexp must be
    eliminated by column pruning — input_file_name forcing a full-width
    read would be the regression), and the netting is ONE exchange with a
    map-side partial HashAggregate below it."""
    df = REGISTRY["mtable_change_feed"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "o_comment" not in plan and "o_clerk" not in plan, plan[:2000]
    assert "input_file_name" not in plan, plan[:2000]
    assert plan.count("Arguments: hashpartitioning") == 1, plan[:2000]
    # partial agg below the exchange: at least two HashAggregate levels
    assert plan.count("HashAggregate") >= 2, plan[:2000]


@pytest.mark.slow  # driver verify-window fit (r14): see pyproject addopts
def test_incremental_rollup_is_two_partial_pipelines_one_union(spark):
    """state(v1) ⊕ Δ(feed): both leg aggregations must partial-aggregate
    before their exchanges and meet in a final tiny group-by — no join
    between state and delta anywhere."""
    df = REGISTRY["revenue_rollup_incremental_cdf"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan[:2000]
    assert "Union" in plan, plan[:2000]


def test_url_dedup_single_exchange_and_id_only_scan(spark):
    """URL-level dedup is ONE hash aggregation on the canonical key: the
    canonicalization chain is map-side regexp codegen, and the documents
    scan reads doc_id ONLY (the synthetic URL derives from it — text must
    never be scanned for a URL-keyed dedup)."""
    import re

    df = REGISTRY["url_dedup_domains"].fn(spark, SF)
    plan = formatted_plan(df)
    # formatted plans list each node twice (tree + detail): count node ids
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:2000]
    assert "ReadSchema: struct<doc_id:bigint>" in plan, plan[:2000]


def test_domain_mix_is_one_corpus_pass(spark):
    """domain_mixture_weights lazily localCheckpoints the domain-sized
    aggregate so its two singleton broadcast branches never re-execute
    the corpus pipeline: at most one parquet scan of documents appears in
    the executed plan (zero once the checkpoint is materialized), and no
    join beyond the two broadcast singletons."""
    df = REGISTRY["domain_quality_mix"].fn(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("ReadSchema") <= 1, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_copurchase_edges_plan_no_join_two_exchanges(spark):
    """r13 edge-build contract: pair generation is collect_set + double
    explode — NO self-join (the r6-r12 shape paid a SortMergeJoin plus two
    extra exchanges) and exactly two hash exchanges (the per-order set
    aggregate and the pair distinct)."""
    import re

    from retailfeaturestore_spark.io import load_table
    from retailfeaturestore_spark.operators.graph import copurchase_edges

    df = copurchase_edges(load_table(spark, SF, "lineitem"))
    plan = formatted_plan(df)
    assert "Join" not in plan, plan[:2000]
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan[:2000]
    assert "ObjectHashAggregate" in plan  # collect_set partials map-side


def test_similar_wedge_plan_no_self_join(spark):
    """r14 wedge contract: similar_by_neighbors generates common-neighbor
    pairs by collect_set + ordered slice-explode — the capped edge table is
    never self-joined on the wedge center (the r6-r13 shape paid a
    ShuffledHashJoin emitting d^2 candidates per center before pa < pb).
    Remaining joins are exactly the two cap semi-joins and the two degree
    attaches; the pair generator shows up as Generate nodes."""
    import re

    from retailfeaturestore_spark.operators.graph import similar_by_neighbors

    edges = spark.createDataFrame(
        [(u, p) for u in range(1, 7) for p in range(10, 10 + u)],
        "src long, dst long",
    )
    plan = formatted_plan(similar_by_neighbors(edges))
    # tree lines carry the join type (details lines don't); the un-cached
    # plan duplicates subtrees under the sym union, so the wedge self-join
    # would show as EXTRA Inner joins beyond the two degree attaches
    assert len(re.findall(r"ShuffledHashJoin Inner \w+ \(\d+\)", plan)) == 2, plan[:3000]
    assert len(re.findall(r"\(\d+\) Generate", plan)) >= 2, plan[:3000]


def test_kmv_sketch_plan_two_exchanges_no_window(spark):
    """r13 KMV tournament contract: the k-min sketch is pure aggregation
    (lane collect_set slice, then per-group flatten slice) — exactly two
    hash exchanges, zero WindowExec/Sort of the hash stream (the r11-r12
    shape paid a distinct groupBy plus two ranking windows)."""
    import re

    from retailfeaturestore_spark.operators.sketches import kmv_group_sketch_packed

    df = spark.createDataFrame(
        [("g1", i) for i in range(50)] + [("g2", i) for i in range(5)],
        "g string, v long",
    )
    plan = formatted_plan(kmv_group_sketch_packed(df, "g", "v", k=8))
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0, plan[:2000]
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan[:2000]


def test_kmv_packed_overlap_plan_two_exchanges_total(spark):
    """r14 packed-sketch contract (VERDICT r13 #4): a pair-overlap pipeline
    consuming the PACKED sketch (``kmv_group_sketch_packed`` +
    ``kmv_pair_overlap``) adds ZERO exchanges beyond the
    sketch build's own two — the r13 shape exploded the sketch to rows and
    re-collected it inside the estimator (a third exchange) and needed a
    distinct over the exploded rows for the group list (a fourth)."""
    import re

    from retailfeaturestore_spark.operators.sketches import (
        kmv_group_sketch_packed,
        kmv_pair_overlap,
    )

    df = spark.createDataFrame(
        [("g1", i) for i in range(50)] + [("g2", i) for i in range(40)],
        "g string, v long",
    )
    sk = kmv_group_sketch_packed(df, "g", "v", k=8)
    pairs = spark.createDataFrame(
        [("g1", "g2")], "group_a string, group_b string"
    )
    # (the build's own 2-exchange tournament is pinned by
    # test_kmv_sketch_plan_two_exchanges_no_window); the estimator over the materialized packed sketch (the query shape:
    # the sketch is localCheckpoint-ed, consumers read its blocks) adds
    # ZERO hash exchanges — broadcasts + per-row array math only
    skc = sk.localCheckpoint()
    plan = formatted_plan(kmv_pair_overlap(skc, pairs, "g", k=8))
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0, plan[:2000]
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan[:2000]

"""Regenerate PLANS.md: formatted physical-plan trees of the headline
queries, with the scale-property annotation each plan demonstrates."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from retailfeaturestore_spark.plans import formatted_plan  # noqa: E402
from retailfeaturestore_spark.queries import REGISTRY  # noqa: E402
from retailfeaturestore_spark.session import get_spark  # noqa: E402

SHOW = {
    "feature_view_build": "ONE entity-hash exchange serves the whole W1-W6 family INCLUDING the whale-safe interval-delta distinct (lag + explode + running sums all partition-local); orders side broadcasts.",
    "churn_labels_orders": "J2 interval labels: NO Join node — union-window formulation.",
    "pricing_summary": "Filter pushed to the parquet scan (PushedFilters); partial_sum map-side combine before the exchange.",
    "revenue_by_nation": "Star join: every dimension a BroadcastHashJoin; no nested loops.",
    "knn_cosine_bruteforce": "Corpus never shuffles: broadcast queries x scan, per-query top-k window.",
    "discounted_revenue": "Q19 OR-of-ANDs: implied per-side filters pushed to BOTH scans before the broadcast join.",
    "nation_market_share": "Q8 five-way star: every dim broadcast; the only exchange is fact-fact + final agg.",
    "feature_view_build_set": "collect_set fast path: same single customer_id exchange, per-frame set state (opt-in for known-small cardinalities).",
    "dedup_minhash": "Minhash over the persisted per-doc signature artifact: banding reads cached min-hash longs; exact-Jaccard verifies via array_intersect on the cached shingle sets (no postings re-join).",
    "training_set_build": "Folded-label training set: ONE entity exchange, 2 sorts, 3 Window passes (labels as a future range frame over zero-weight order markers); no label join anywhere.",
    "events_funnel_conversion": "Ordered funnel: three chained stage windows + per-user collapse over ONE user_id exchange; funnel state never leaves the executor.",
    "customer_priority_scd2": "SCD2 validity intervals: one exchange, one sort, one WindowExec (lead + is_current).",
    "segment_spend_deciles": "Quantile binning: ntile under PARTITION BY segment — no SinglePartition window, no global sort.",
    "corpus_curation_pipeline": "End-to-end curation: digest dedup window + broadcast-marked contamination agg + one doc_id join; Gopher flags ride map-side.",
    "nation_daily_revenue_outliers": "Exact 2-sigma gate in squared form: DECIMAL(38,0) arithmetic, broadcast dims, one tiny per-nation window.",
    "bm25_retrieval": "r11 re-plan + r12 rows checkpoint: map-side tf (isin-shrunk match arrays, |terms|+1 pre-aggregated rows per doc), sentinel-row stats+df folded into ONE broadcast map row, match-list rows localCheckpoint-ed so the stats agg and the scoring join share ONE corpus split pass; the only exchanges are the match-list-sized (query,doc) sum and the per-query top-k window — zero token-level shuffles.",
    "url_dedup_domains": "URL curation: canonicalization entirely map-side regexp codegen; ONE hash exchange on the canonical key; the documents scan reads doc_id only (ReadSchema-pruned).",
    "domain_quality_mix": "Capped domain mixture: one corpus pass (the domain-sized aggregate is lazily localCheckpoint-ed so the two singleton broadcast branches read blocks, not the pipeline); integer-exact cap arithmetic, one IEEE division per share.",
    "brand_basket_affinity": "Per-order brand BITMASK (bit_or, 16-byte exchange rows with map-side partials) -> C(k,2) pairs from two codegen'd explode(sequence) generators (no lambda HOF) -> tiny pair rollup -> TakeOrdered.",
    "dau_mau_stickiness": "Interval-coverage scan-line: day-user distinct + per-user lead() sort, +1/-1 deltas into ONE day-grain agg, dense days recovered by exploding constant-coverage intervals — 3 hash exchanges, zero joins, no Expand.",
    "dedup_cross_source_matrix": "Pair-derived frame broadcasts onto both source-attach passes; the corpus-sized (doc_id, source) projection never shuffles.",
    "source_token_divergence": "One tokenize; global term counts via a term-window whose partitions are bounded by SOURCE COUNT; 1e-12-quantized long sums keep the TV distance engine-exact.",
    "knn_ivf_pq": "PQ/ADC: codebooks + per-query LUTs are literals, so scoring is a pure map over the encoded corpus - NO Join node; the only exchange is the per-query top-k window over (q_id, n_id, dist) longs.",
    "knn_mmr_diverse": "MMR: broadcast-candidate vector re-attach (corpus never sort-merges) feeding the Arrow FlatMapGroupsInPandas greedy-selection stage, bounded by |Q| x k_candidates.",
    "user_daily_snapshot_spine": "Dense daily spine: ONE hash(user) exchange serves the (user, day) agg, both running sums and lead(); dense days explode from per-segment integer ranges; corpus-end day is a ts-only one-row broadcast.",
    "purchase_multitouch_attribution": "Multi-touch: bucketed range join = plain (user, bucket) equi-join + exact filter; the per-purchase rank window carries only matched pairs.",
    "recs_negative_samples": "Negative sampling: no customer x part cross product anywhere - md5 guesses are |C| x 12 generated rows, exclusion is a LeftAnti equi-join over the checkpointed purchase set.",
    "dedup_containment": "Containment dedup: ONE persisted rare-posting artifact (partial-agg df rollup + digest semi-join) feeds all four consumers via InMemoryTableScan; overlap self-join keys on the digest both sides are partitioned by.",
    "part_pagerank_copurchase": "Integer PageRank: every vertex-scale join is a hinted ShuffledHashJoin (NO BroadcastExchange anywhere — the columnar edge cache decompresses ~10x as a HashedRelation); r13 edge build is collect_set + double explode — no self-join, two exchanges, persisted once per query.",
    "copurchase_triangles": "Degree-oriented triangle counting: wedge self-join co-partitioned on the oriented source; r13 bit-word pre-filter (bit_or word table, broadcast, shiftright probe) drops non-closing wedges map-side before the closing equi-join's exchange; edge-scale joins stay ShuffledHashJoin; per-vertex rollup is one explode pass.",
    "part_similar_by_copurchase": "Item-item CF: stopword-vertex semi-joins cap the graph; r14: common-neighbor pairs come from collect_set + ordered slice-explode (exactly C(d,2) wedges, NO self-join); degree attaches are shuffle-hash, never broadcast; per-part rank window over pair-sized rows.",
    "training_shuffle_shards": "Epoch shuffle: exactly the sharded-write plan — one hashpartitioning(shard) exchange + in-partition sort by the md5 key; no global sort, no rangepartitioning.",
    "semantic_dedup_embeddings": "SemDeDup: skinny (id, cell, dist) dominance join at full parallelism; pre-quantized int vectors re-attach by id AFTER the pair cut — embedding arrays never ride the cell shuffle.",
    "approx_customer_overlap_months": "KMV set-op sketch: r13 lane-aggregate tournament (collect_set slice + flatten slice — two exchanges, zero windows/sorts) behind a checkpoint, then the ENTIRE pairwise stage is broadcast joins + per-row array math; exact leg is the only fact-scale join.",
    "approx_heavy_hitters": "Frequent-items: KPS counters merged driver-side (no word shuffle for the sketch); the exact-leg groupBy is the harness, broadcast-joined to the one-row total.",
    "mtable_change_feed": "Change data feed netting: one scan PER CHANGE SET with ReadSchema pruned to the 3 output columns (the partition-restore regexp is eliminated by pruning), map-side partial HashAggregate under ONE exchange — the feed plans the changed files, never the table.",
    "revenue_rollup_incremental_cdf": "O(delta) rollup maintenance: the v1-state agg and the signed feed agg are two independent partial-agg pipelines unioned into one final 5-row exchange; cents-integer sums make state + delta exactly the full recompute.",
}


def main() -> None:
    spark = get_spark("dump-plans")
    out = [
        "# PLANS — physical-plan evidence for the scale claims",
        "",
        "Formatted plans (pre-execution, AQE initial) of the headline queries at",
        "sf0.001 — regenerate with `python tools/dump_plans.py`.  Each plan is the",
        "shape asserted by tests/test_plans.py.",
        "",
    ]
    for name, note in SHOW.items():
        df = REGISTRY[name].fn(spark, "/root/testdata/sf0.001")
        tree = formatted_plan(df).split("\n\n")[0]
        out += [f"## {name}", "", note, "", "```", tree.strip(), "```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md regenerated")


if __name__ == "__main__":
    main()

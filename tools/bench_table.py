#!/usr/bin/env python
"""Emit the OPTIMIZATION_r17.md before/after bench table: baseline vs final
per-query seconds with the r17 change tag for each row.

Usage: python tools/bench_table.py <baseline.json> <final.json>
"""

from __future__ import annotations

import json
import sys

# what round 17 did to each benched query (the checklist source of truth);
# queries not listed get "examined — left alone" with the family reason.
TAGS = {
    "dedup_index_incremental": "b4: overlapped sig passes + pinned probes; b2: band explode",
    "ann_index_incremental": "b1: single-pass append; b3: overlapped appends",
    "ann_index_compacted": "b1: single-pass append; b3: overlapped appends",
    "ann_index_tombstone_delete": "b1: single-pass append; b3: overlapped appends+tombstones",
    "ann_index_streamed": "b1: single-pass append; b4: overlapped staging (neutral)",
    "term_index_incremental": "b3: overlapped appends (replay after barrier)",
    "term_index_compacted": "b3: overlapped appends",
    "corpus_stats_registers": "b3: overlapped shard writes",
    "corpus_quantiles_registers": "b3: overlapped shard writes",
    "cm_frequency_registers": "b3: overlapped writes + HH threshold off the driver",
    "lm_counts_incremental": "b3: overlapped batches; uni/bi in commit order",
    "colbert_maxsim_topk": "b3: row-local MaxSim (4->2 Exchange)",
    "quality_classifier_scores": "b3: fused grouped_doc_features; b2: lazy grouped checkpoint",
    "binary_auc": "b3: fused grouped_doc_features",
    "entity_lpa_communities_k3": "b2: lazy per-round checkpoints (278-Exchange plan bounded)",
    "entity_ppr_seeds_k3": "b1: inline seeds; b2: lazy PPR checkpoints",
    "entity_ppr_seeds_k8": "b1: inline seeds; b2: lazy PPR checkpoints",
    "graph_rag_ppr_retrieve": "b1: inline seeds; b2: lazy PPR checkpoints",
    "neardup_cc_incremental": "b1: lazy CC loop fusion; b2: band explode",
    "neardup_clusters": "b2: lazy edge cache + band explode",
    "minhash_lsh_pairs": "b2: band explode (4 Union -> 0, 28 -> 16 Exchange)",
    "dedup_incremental": "b2: band explode",
    "bloom_membership_profile": "b2: lazy gram stream; b5: single distinct pass in build_bloom",
    "bpe_train_merges": "b2: lazy merge-loop checkpoints",
    "perplexity_buckets": "b2: lazy histogram checkpoint",
    "dsir_importance_weights": "b2: lazy feature checkpoint",
    "remove_shared_spans": "b2: lazy token/span checkpoints",
    "fixed_block_packing": "b2: lazy prefix checkpoint",
    "sequence_packing": "b2: lazy prefix checkpoint (shared operator)",
    "knn_graph_incell": "b2: lazy cell-assignment checkpoint",
    "knn_graph_mutual": "b2: lazy kNN-edge checkpoint",
    "eval_recall_harness": "b1: inline fixtures; b2: lazy adjacency checkpoint",
    "graph_rag_full_query": "b1: inline seeds/fixtures",
    "graph_rag_retrieve_backfill": "b1: inline seeds; b2: lazy eviction candidates",
    "subgraph_expand_d1": "b1: inline seed frontier (no Python-RDD rebuilds)",
    "subgraph_expand_d2": "b1: inline seed frontier",
    "versioned_merge_diff": "b2: lazy source pinning (dup guard materializes)",
    "versioned_time_travel": "examined — scratch-store round trip, write-cost honest",
    "snapshot_diff": "examined — CDC diff already minimal",
    "ann_ivfpq_topk": "b1: single-pass encode; b2: lazy encode barrier",
    "ann_pq_adc_topk": "b2: lazy encode barrier",
    "ann_ivf_index_search": "examined — scratch index write + pruned search",
    "ann_ivf_trained_topk": "examined — shares cached centroid training",
    "sparse_index_search": "examined — one-shot index write honest cost",
    "bm25_index_topk": "examined — stored-index BM25, probe already exchange-lean",
    "hybrid_weighted_topk": "examined — two corpus passes inherent, k-bounded tail",
    "hybrid_rrf_topk": "examined — same family",
    "ngram_jaccard_pairs": "examined — capped universe + array pair-gen already landed r14-16",
    "minhash_signatures": "examined — one agg pass",
    "sessionize_events": "examined — single window pass",
    "stream_tumbling_30m": "examined — streaming machinery fixed cost IS the artifact",
    "stream_session_window_30m": "examined — same",
    "stream_stateful_sessions": "examined — same (applyInPandasWithState)",
    "multimodal_codec_features": "examined — 300-row scale-independent gate",
    "multimodal_frame_sample": "examined — capped explode",
    "semdedup_keep": "examined — in-cell pairs, occupancy-capped",
    "kmeans_embedding_clusters": "examined — cached centroid training",
    "cluster_capped_sample": "examined — capped per-cell sample",
    "curriculum_order": "examined — one sort key pass",
    "key_skew_profile": "examined — exact top-N agg",
    "source_temperature_mix": "examined — register-sized agg",
    "documents_keyset_page": "examined — keyset predicate pushdown",
    "expectations_validate": "examined — register-sized checks",
    "token_profile": "examined — one tokenize pass",
    "pii_redaction_profile": "examined — row-local regex",
    "repetition_quality_filters": "examined — row-local ratios",
    "contamination_ngram_overlap": "examined — banded overlap, capped",
    "winnow_fingerprints": "examined — row-local winnowing",
    "simhash_signatures": "examined — row-local simhash",
    "lm_cross_entropy": "examined — broadcast model, row-local scoring",
    "graph_build_entities": "examined — build pass, map-side dedup",
    "graph_build_relations": "examined — same",
    "knn_cosine_topk": "examined — broadcast-matmul top-k",
    "ann_lsh_topk": "examined — banded candidates",
    "bm25_keyword_topk": "examined — corpus-pass BM25",
    "range_search_radius": "examined — radius filter + bounded sort",
    "grouping_search_topk": "examined — group-capped window",
    "grouping_search_groupsize2": "examined — same",
    "sparse_dot_topk": "examined — broadcast query side",
    "mmr_diversity_rerank": "examined — pool-bounded rerank",
    "embedding_drift_registers": "examined — register merge, KB shuffle",
    "pricing_summary": "examined — TPC-H style agg, plan minimal",
    "shipping_priority": "examined — same",
    "local_supplier_volume": "examined — same",
    "topk_orders_per_customer": "examined — TakeOrdered",
    "corpus_curation_funnel": "examined — funnel of register aggs",
    "dedup_index_probe_only": "probe leg of restructured index (b2 band explode)",
    "ann_index_probe_only": "probe leg (b1 one-collect probe planning)",
}


def main() -> None:
    base = json.load(open(sys.argv[1]))
    fin = json.load(open(sys.argv[2]))
    qb, qf = base["queries"], fin["queries"]
    print("| query | r17 baseline s | r17 final s | ratio | change |")
    print("|---|---|---|---|---|")
    total_b = total_f = 0.0
    for k in qf:
        b, f = qb.get(k), qf[k]
        if b:
            total_b += b
            total_f += f
        ratio = f"{f / b:.2f}x" if b else "new"
        print(f"| {k} | {b if b is not None else '—'} | {f} | {ratio} | {TAGS.get(k, 'examined')} |")
    print(f"| **total** | **{total_b:.1f}** | **{total_f:.1f}** | **{total_f / total_b:.3f}x** | |")


if __name__ == "__main__":
    main()

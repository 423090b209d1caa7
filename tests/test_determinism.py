"""Determinism under repartitioning — the oracle-parity prerequisite.

Every declared query claims a result that is bit-identical regardless of
physical parallelism (FIXTURES.md §3: decimal-exact sums, pre-rank
rounding, explicit tie-breaks).  These tests actually vary the shuffle
parallelism and re-run representative float-heavy queries: if a query
leaked addition-order or partition-order dependence, the two runs would
diverge here before they diverged against DuckDB on a cluster.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE

# Float-heavy / order-sensitive representatives of each family.
REPARTITION_CHECKED = [
    "pricing_summary",          # decimal-exact multi-agg
    "bm25_keyword_topk",        # rounded term scores + decimal sum + rank
    "hybrid_rrf_topk",          # rank fusion across two lists
    "entity_pagerank_k3",       # iterative decimal-exact propagation
    "minhash_lsh_pairs",        # hash joins + est fraction
    "topk_orders_per_customer",  # partitioned rank window over orders
    "entity_ppr_seeds_k8",      # deep iteration + eager localCheckpoint
    "ngram_jaccard_pairs",      # intra-bucket pair explosion + top-100
    "events_value_percentiles",  # exact interpolated percentiles
    "sequence_packing",         # per-shard sequential fold (partition-order risk)
    "kmeans_embedding_clusters",  # iterative centroid update (sum-order risk)
    "repetition_quality_filters",  # ratio thresholds on float divisions
    # round-7 registered family
    "perplexity_buckets",       # grouped-histogram rank cuts (driver prefix sums)
    "quality_classifier_scores",  # quantized GD sums (ADVICE r6 flake risk)
    "bpe_train_merges",         # argmax tie-breaks across 8 merge iterations
    "bloom_membership_profile",  # bit array + probe determinism
    "versioned_merge_diff",     # MoR latest-wins fold through parquet round-trip
    # round-11 staged search-API family
    "grouping_search_topk",     # min(struct) tie-break under partial aggregation
    "mmr_diversity_rerank",     # greedy fold over collect_list candidate arrays
    # round-12 staged
    "hybrid_weighted_topk",     # min-max normalization + weighted double blend
    # round-13 staged
    "grouping_search_groupsize2",  # iterated min(struct) argmax x2 under partial agg
    "semdedup_keep",            # Lloyd floor-avg centroids + round-6 cosine keep rule
    "knn_graph_incell",         # row-local argmax assignment + in-cell rank window
    # round-14 staged
    "ann_ivf_trained_topk",     # trained-centroid assignment + round-6 probe/score
    "knn_graph_mutual",         # symmetry semi-join over the ranked edge list
    # round-15 staged
    "ann_index_streamed",       # streamed shard appends + ADC rank (batch-id order)
    "neardup_cc_incremental",   # batch-contracted CC merges (label fold order)
    "documents_keyset_page",    # chained TakeOrdered cursors under repartitioning
    # round-16 staged
    "ann_index_compacted",      # compaction I/O must not reorder probe results
    "cluster_capped_sample",    # hash-ordered sample stable under repartitioning
    "curriculum_order",         # hash shuffle + phase sort keys under repartitioning
]


def _run(spark, name: str, shuffle_partitions: int):
    from vector_graph_rag_spark.queries import curation, load_all, pipeline
    from vector_graph_rag_spark.testing import normalize_frame

    # Build-once artifact caches (PQ codebooks, sqrt(n)-means centroids)
    # would otherwise carry the lo-parallelism training into the hi run,
    # silently weakening this test to assignment-only invariance.
    curation._KM_CENTROID_CACHE.clear()
    pipeline._PQ_BOOKS_CACHE.clear()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        return normalize_frame(load_all(include_retired=True)[name].fn(spark, SF_SMOKE).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize("name", REPARTITION_CHECKED)
def test_identical_across_shuffle_parallelism(spark, name):
    lo = _run(spark, name, 3)
    hi = _run(spark, name, 17)
    assert list(lo.columns) == list(hi.columns)
    assert len(lo) == len(hi), f"{name}: row count differs across parallelism"
    assert lo.equals(hi), f"{name}: values differ across shuffle parallelism"

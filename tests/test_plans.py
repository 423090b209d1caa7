"""Physical-plan audits — the scale contract, asserted.

SCALE.md's global invariants, pinned by tests so a regression that
reintroduces a row-wise Python UDF, an unintended cartesian product, or a
lost pushdown fails CI rather than surfacing as a 100 TB incident.
Plans are compiled, not executed (queries with eager driver work are
audited via their lazy parts elsewhere).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE

# Representative lazy queries across every family (streaming/eager-collect
# queries excluded: building their DataFrame runs work).
AUDITED = [
    "pricing_summary",
    "shipping_priority",
    "topk_orders_per_customer",
    "token_profile",
    "quality_score",
    "dedup_exact",
    "minhash_lsh_pairs",
    "neardup_clusters",
    "knn_cosine_topk",
    "ann_lsh_topk",
    "graph_build_entities",
    "entity_pagerank_k3",
    "entity_triangle_count",
    "events_range_join_15m",
    "sessionize_events",
    "events_value_percentiles",
    "bm25_keyword_topk",
    "hybrid_rrf_topk",
    "orders_grouping_sets",
    "entity_2hop_paths_beam",
    "nation_balance_full_outer",
    "ngram_jaccard_pairs",
    "dedup_incremental",
    "corpus_curation_funnel",
    "entity_neighbor_jaccard",
    # round-5 curation family (kmeans_embedding_clusters is eager — driver
    # centroid loop — and audited via its assignment stage below)
    "contamination_ngram_overlap",
    "pii_redaction_profile",
    "repetition_quality_filters",
    "sequence_packing",
    # round-6 registered model-filter + CDC family (binary_auc and
    # quality_classifier_scores are eager — driver GD/collect — and audited
    # via binary_auc's dedicated no-single-partition test + the lm_filter
    # library plan test).  The round-7 pipeline queries (bpe_train_merges,
    # bloom_membership_profile, versioned_merge_diff, lm_counts_incremental)
    # are all eager too (driver merge loop / bitset collect / store commits /
    # shard writes) and are plan-audited via their library tests
    # (test_bpe/test_bloom/test_versioned) instead.
    "lm_cross_entropy",
    "perplexity_buckets",
    "dsir_importance_weights",
    "remove_shared_spans",
    "snapshot_diff",
    # round-10 staged candidates (the PQ/mix/IVF-index ones are eager —
    # codebook training / count collects / index write — but their final
    # returned frames still audit cleanly for banned nodes)
    "ann_pq_adc_topk",
    "source_temperature_mix",
    "ann_ivf_index_search",
    "ann_ivfpq_topk",
    # round-11 staged candidates (queries/search_api.py — all four fully
    # declarative: no collects, no driver loops)
    "range_search_radius",
    "grouping_search_topk",
    "sparse_dot_topk",
    "mmr_diversity_rerank",
    # incremental IVF-PQ index (eager: temp-dir shard writes; the returned
    # search frame still audits for banned nodes)
    "ann_index_incremental",
    # round-12 staged: window-free LPA aggregation rounds
    "entity_lpa_communities_k3",
    # round-12 staged: stored inverted term index (eager temp write; the
    # returned search frame still audits)
    "sparse_index_search",
    # round-12 staged: weighted-score hybrid fusion (k-bounded windows)
    "hybrid_weighted_topk",
    # round-13 staged: SemDeDup keep rule (cluster-bounded pair search)
    "semdedup_keep",
    # round-13 staged: stored-index BM25 (eager temp write; the returned
    # ranked frame still audits)
    "bm25_index_topk",
    # round-13 staged: grouping search, group_size=2 (iterated argmax)
    "grouping_search_groupsize2",
    # round-13 staged: in-cell kNN graph (row-local assignment, cell join)
    "knn_graph_incell",
    # round-14 staged: incremental posting shards (eager temp writes; the
    # returned search frame still audits), trained-quantizer IVF,
    # mutual-kNN symmetrization, exact skew profile
    "term_index_incremental",
    "ann_ivf_trained_topk",
    "knn_graph_mutual",
    "key_skew_profile",
    # round-15 staged: streamed IVF-PQ ingestion (eager stream writes; the
    # returned probe frame still audits), incremental CC merges, keyset
    # pagination (chained TakeOrdered), frame-sample explode
    "ann_index_streamed",
    "neardup_cc_incremental",
    "documents_keyset_page",
    "multimodal_frame_sample",
    # round-16 staged: shard compaction for both incremental indexes
    # (eager temp writes; the returned probe frames still audit),
    # cluster-capped balancing, curriculum ordering
    "ann_index_compacted",
    "term_index_compacted",
    "cluster_capped_sample",
    "curriculum_order",
    # round-17 staged (r15 staging): time-travel reads, moment registers,
    # tombstone-excluded probe (eager temp writes; the returned frames
    # still audit), late-interaction MaxSim (broadcast query tokens)
    "versioned_time_travel",
    "embedding_drift_registers",
    "ann_index_tombstone_delete",
    "colbert_maxsim_topk",
]


def _explain(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _plan(spark, name: str) -> str:
    from vector_graph_rag_spark.queries import load_all

    return _explain(load_all(include_retired=True)[name].fn(spark, SF_SMOKE))


@pytest.mark.parametrize("name", AUDITED)
def test_no_rowwise_python_and_no_cartesian(spark, name):
    plan = _plan(spark, name)
    # Row-at-a-time Python UDFs are banned from the hot path; Arrow-batched
    # pandas (ArrowEvalPython / MapInPandas) is the sanctioned escape hatch.
    assert "BatchEvalPython" not in plan, f"{name} has a row-wise Python UDF"
    assert "CartesianProduct" not in plan, f"{name} has an unbounded cartesian product"


def test_eviction_big_branch_is_take_ordered(spark):
    """apply_eviction's eviction branch fires when candidates EXCEED the
    threshold, so its top-k must be TakeOrderedAndProject (per-partition
    local top-N), never a global window sort of the full candidate set
    (retriever.py:267-285).  The kept rows are the top-`threshold`
    candidates by 6-rounded cosine, ties broken by id."""
    import math

    from pyspark.sql import functions as F

    from vector_graph_rag_spark.operators.eviction import apply_eviction

    # Values repeat every 15 ids, so every score is tied with another id and
    # the odd threshold cuts through a tied pair; ids 30-39 repeat the top
    # scores but are not candidates.
    rows = [(f"r{i:02d}", [float(i % 5), 1.0, float(i % 3) - 1.0]) for i in range(40)]
    relations = spark.createDataFrame(rows, "id string, embedding array<double>")
    candidates = relations.filter(F.col("id") < "r30").select(
        F.col("id").alias("relation_id")
    )
    query = [1.0, 0.5, -0.25]
    kept, stats = apply_eviction(candidates, relations, query, threshold=7)
    assert stats == {"applied": True, "before": 30, "after": 7}

    plan = _explain(kept)
    assert "TakeOrderedAndProject" in plan, "eviction top-k lost TakeOrderedAndProject"
    # The only Window allowed is the rank over the <=threshold survivors,
    # which must sit ABOVE the TakeOrderedAndProject in the plan tree.
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    scored = [(round(cos(v, query), 6), rid) for rid, v in rows if rid < "r30"]
    expected = sorted(scored, key=lambda p: (-p[0], p[1]))[:7]
    got = kept.orderBy("evict_order").collect()
    assert [r["evict_order"] for r in got] == list(range(1, 8))
    assert [(r["score"], r["relation_id"]) for r in got] == expected


def test_dedup_incremental_hot_bucket_guard_broadcasts(spark):
    """The batch-vs-corpus LSH join's skew guard (hot-bucket anti-join,
    queries/dedup.py) must stay a BROADCAST anti-join — the hot-bucket list
    is tiny by definition — and the whole query must stay sort-free: its
    only wide ops are the band equi-join and the final groupBy, so any Sort
    beyond SortMergeJoin locals means a silent global-sort regression."""
    plan = _plan(spark, "dedup_incremental")
    assert "BroadcastExchange" in plan, "hot-bucket anti-join no longer broadcasts"
    assert "TakeOrderedAndProject" not in plan and "GlobalLimit" not in plan
    # No windowed rank / global orderBy should ever appear in this query.
    assert "Window" not in plan, "dedup_incremental grew a window sort"


def test_contamination_benchmark_side_broadcasts(spark):
    """Decontamination joins the corpus gram stream against the benchmark
    gram set; the benchmark side is small by construction (eval sets, not
    corpora) and must ride a BroadcastHashJoin — a shuffle join here would
    reshuffle the full corpus gram table at 100 TB."""
    plan = _plan(spark, "contamination_ngram_overlap")
    assert "BroadcastHashJoin" in plan, "benchmark gram set no longer broadcasts"
    assert "SortMergeJoin" not in plan


def test_sequence_packing_single_shuffle(spark):
    """Per-shard greedy packing: exactly one Exchange (the groupBy(shard))
    feeding one Arrow-batched FlatMapGroupsInPandas — the sequential loop
    must never degrade to a row-wise Python UDF or gain extra shuffles."""
    import re

    plan = _plan(spark, "sequence_packing")
    assert "FlatMapGroupsInPandas" in plan
    # formatted mode prints each node once in the tree and once in the detail
    # section — count distinct Exchange node headers, not substring hits.
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M))
    assert n_exchanges == 1, f"sequence_packing grew extra shuffles ({n_exchanges})"


def test_kmeans_assignment_stage_is_jvm_only(spark):
    """The k-means hot path (per-iteration assignment scan) must be pure JVM
    expression work against literal centroids: no Python eval node, no join,
    no shuffle — one linear scan per iteration."""
    from vector_graph_rag_spark.queries.curation import _KM_DIM, _km_assign
    from vector_graph_rag_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    q = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")).alias("qv"),
    )
    df = _km_assign(q, [(0, [0] * _KM_DIM), (1, [1] * _KM_DIM)])
    plan = _explain(df)
    for banned in ("BatchEvalPython", "ArrowEvalPython", "Exchange", "Join"):
        assert banned not in plan, f"k-means assignment grew a {banned}"


def test_column_pruning_reaches_scan(spark):
    # token_profile touches only (doc_id, text): the documents scan must not
    # read lang/source/n_chars.
    plan = _plan(spark, "token_profile")
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan[-1500:]


def test_predicate_pushdown_reaches_scan(spark):
    # A click-to-purchase range join filters event_type twice (clicks,
    # purchases); both predicates must reach the parquet scan.
    from pyspark.sql import functions as F

    from vector_graph_rag_spark.operators.timeseries import range_join_bucketed
    from vector_graph_rag_spark.sources.tables import load_table

    e = load_table(spark, SF_SMOKE, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    df = range_join_bucketed(clicks, purchases, on=["user_id"], width_seconds=3600)
    plan = _explain(df)
    assert "EqualTo(event_type,click)" in plan
    assert "EqualTo(event_type,purchase)" in plan


def test_bm25_prunes_documents_scan(spark):
    # BM25 touches only (doc_id, text); lang/source/n_chars must be pruned.
    plan = _plan(spark, "bm25_keyword_topk")
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan[-1500:]
    # The query-term and df sides are tiny and must broadcast.
    assert "BroadcastHashJoin" in plan


def test_broadcast_frontier_in_expansion(spark):
    # Subgraph expansion must broadcast frontiers, never shuffle the edge
    # table inside the hop loop.
    plan = _plan(spark, "subgraph_expand_d1")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    # The cluster deployment layout (SCALE.md): edge tables bucketed by
    # entity id join WITHOUT an exchange — co-located sort-merge join.
    from vector_graph_rag_spark.queries.graphrag import _graph

    er = _graph(spark, SF_SMOKE).entity_relation
    for t in ("er_bkt_a", "er_bkt_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        (
            er.write.bucketBy(4, "entity_id")
            .sortBy("entity_id")
            .option("path", str(tmp_path / t))
            .saveAsTable(t)
        )
    try:
        j = (
            spark.table("er_bkt_a")
            .hint("merge")
            .join(spark.table("er_bkt_b").withColumnRenamed("relation_id", "r2"), "entity_id")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:1500]}"
        assert j.count() > 0
    finally:
        for t in ("er_bkt_a", "er_bkt_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_binary_auc_has_no_single_partition_stage(spark):
    """r5 verdict flaw #1: the AUC ranked the corpus through one global
    Window partition.  The r6 formulation's only corpus-wide stage is a
    map-side-combined groupBy(score); nothing in the plan may funnel into
    a single partition, and no Window node may exist at all."""
    from vector_graph_rag_spark.operators.lm_filter import binary_auc_counts

    df = spark.range(1000).selectExpr(
        "id AS doc_id",
        "CAST(id % 97 AS DOUBLE) / 97 AS score",
        "id % 3 = 0 AS y",
    )
    plan = _explain(binary_auc_counts(df, "score", "y", round_to=6))
    assert "SinglePartition" not in plan, f"AUC reintroduced a single-partition stage:\n{plan}"
    assert "Window" not in plan, f"AUC reintroduced a global window:\n{plan}"
    assert "HashAggregate" in plan  # the map-side-combined groupBy(score)


def test_perplexity_buckets_has_no_single_partition_stage(spark):
    """r6 verdict weak #1: the exact tier split ranked the corpus through
    one global Window partition.  The r7 grouped-histogram formulation's
    only corpus-wide stage is a map-side-combined groupBy(rounded score);
    the tier map rides a broadcast join and the only Window allowed is
    partitioned BY SCORE over boundary groups — never SinglePartition."""
    from vector_graph_rag_spark.operators.lm_filter import perplexity_buckets

    # continuous scores with a few heavy ties so both the broadcast path
    # and the boundary-group window path appear in the plan
    df = spark.range(3000).selectExpr(
        "id AS doc_id",
        "5 AS n_tokens",
        "CAST(id % 41 AS DOUBLE) / 41 AS cross_entropy",
    )
    out = perplexity_buckets(df)
    plan = _explain(out)
    assert "SinglePartition" not in plan, (
        f"perplexity_buckets reintroduced a single-partition stage:\n{plan}"
    )
    # the non-boundary branch is pure literal comparisons (no join); only
    # the <=2 boundary groups join their broadcast base-rank map
    assert "BroadcastHashJoin" in plan
    assert out.count() == 3000


def test_registered_dsir_keeps_broadcast_and_takeordered(spark):
    """The r6 registered DSIR variant (portable md5 hash + quantized sums)
    must keep the library plan shape: log-ratio table broadcast, selection
    as TakeOrderedAndProject."""
    from vector_graph_rag_spark.operators.lm_filter import dsir_select
    from vector_graph_rag_spark.queries import load_all

    weights = load_all()["dsir_importance_weights"].fn(spark, SF_SMOKE)
    assert "BroadcastHashJoin" in _explain(weights)
    sel_plan = _explain(dsir_select(weights, 50))
    assert "TakeOrderedAndProject" in sel_plan, "dsir_select lost its local top-n plan"


def test_grouping2_ingroup_topk_is_agg_not_window(spark):
    """group_size=2's in-group top-2 must stay ITERATED ARGMAX (two
    map-side-combined min-struct aggs + a broadcast winner-exclusion join),
    never a corpus-wide (query, label) window — the exact reason
    best_hit_per_group exists.  The plan's ONLY Window is the group-rank
    over the group-reduced frame."""
    import re

    plan = _plan(spark, "grouping_search_groupsize2")
    n_windows = len(re.findall(r"^\(\d+\) Window\b", plan, flags=re.M))
    assert n_windows == 1, f"in-group top-2 leaked into a corpus window ({n_windows})"
    assert "BroadcastHashJoin" in plan, "winner-exclusion join lost its broadcast"


def test_knn_graph_group_kernel_no_pair_frame(spark):
    """The kNN-graph neighbor search is ONE Arrow-batched grouped kernel
    over (cell_id, sub_id) — the corpus-sized pair frame and its rank
    window must never materialize (r12: the pair join + window measured
    4.5x wall at the 10x smoke; the capped-group gram-matrix kernel is
    1.5x).  Required shape: a FlatMapGroupsInPandas over the group keys,
    zero Windows, zero row-wise Python, no cartesian."""
    import re

    plan = _plan(spark, "knn_graph_incell")
    assert "FlatMapGroupsInPandas" in plan, "group kernel missing"
    n_windows = len(re.findall(r"^\(\d+\) Window\b", plan, flags=re.M))
    assert n_windows == 0, f"corpus-sized rank window reappeared ({n_windows})"
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the kernel groups on the capped sub-cell key
    assert "cell_id" in plan and "sub_id" in plan


def test_key_skew_profile_no_global_sort_of_keys(spark):
    """The skew profile's top-20 must be TakeOrderedAndProject over the
    per-key counts (per-partition local top-N), never a global window sort
    of the |keys|-sized frame — at 100 TB |keys| is billions and a global
    sort here would cost more than the shuffle it is diagnosing."""
    plan = _plan(spark, "key_skew_profile")
    assert "TakeOrderedAndProject" in plan
    # the one Window ranks the 20 survivors, above the TakeOrdered
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row totals broadcast

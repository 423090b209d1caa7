#!/usr/bin/env python
"""10x scale smoke — empirical check that the heavy headline queries scale
~linearly (r4 verdict item 4).

Builds an sf1-equivalent dataset from sf0.1 by union-duplicating documents
and events 10x with re-keyed ids, then times the heaviest queries at both
scales and prints per-query wall-time scaling factors.

Copy semantics (designed to preserve workload character, not just row
count):

- ``documents``: copy 0 is the original; copies 1-9 re-key ``doc_id`` into
  a disjoint range and suffix every whitespace token with ``c{copy}`` —
  per-doc shingle counts and length distribution are unchanged, but copies
  are NOT near-duplicates of each other, so the near-dup queries see 10x
  corpus at the original duplicate density instead of a fabricated
  10-way-duplicate corpus (which would measure the dedup caps, not scaling).
- ``events``: copies re-key ``event_id`` and ``user_id`` into disjoint
  ranges with identical timestamps — 10x users over the same time range, so
  sessionization state and the groupBy(user) shuffle scale 10x.
- The graph queries build from documents; seed entities only exist in copy
  0 (copies' vocab is suffixed), so frontier sizes stay constant while the
  entity/relation/edge tables scale 10x — exactly the shape of a fixed
  query against a grown corpus.

Usage: python tools/scale_smoke.py [--out /tmp/sf1_equiv] [--iters 2]
Graph materialization is untimed (build-once indexing, same methodology as
bench.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF01 = "/root/testdata/sf0.1"

QUERIES = [
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "subgraph_expand_d1",
    "entity_ppr_seeds_k8",
    "stream_stateful_sessions",
    # round-5 curation family: the decontamination join (benchmark side grows
    # with copies but stays broadcast-sized), the sharded sequential packer,
    # and the iterative k-means (10x vectors through assignment + update).
    "contamination_ngram_overlap",
    "sequence_packing",
    "kmeans_embedding_clusters",
    # round-7 registered pipeline operators (word-suffixed copies grow the
    # word-type space ~linearly — the worst case for BPE's vocab-bound claim)
    "bpe_train_merges",
    "bloom_membership_profile",
    # round-10 staged candidates (pre-registration smokes): PQ training +
    # encoding scans grow linearly, codebook/ADC state stays M*K-bounded;
    # the mix's quota plan stays |sources|-bounded with one window shuffle
    "ann_pq_adc_topk",
    "source_temperature_mix",
    "ann_ivf_index_search",
    "ann_ivfpq_topk",
    # round-11 staged candidates (pre-registration smokes): range/grouping
    # scale with the scored frame (broadcast join, no shuffle / map-side
    # combine); sparse rides the inverted term index; MMR is row-local per
    # query over k-bounded candidate arrays
    "range_search_radius",
    "grouping_search_topk",
    "sparse_dot_topk",
    "mmr_diversity_rerank",
    # round-12 activations + the r13/r14 staged candidates (pre-activation
    # smokes): incremental index probes stay batch-proportional; the kNN
    # graph family's pair volume is occupancy-capped (<= n*64, linear)
    "ann_index_incremental",
    "sparse_index_search",
    "entity_lpa_communities_k3",
    "hybrid_weighted_topk",
    "semdedup_keep",
    "bm25_index_topk",
    "grouping_search_groupsize2",
    "knn_graph_incell",
    "knn_graph_mutual",
    "term_index_incremental",
    "ann_ivf_trained_topk",
    "key_skew_profile",
    # round-15 staged candidates (pre-registration smokes): streamed index
    # appends are batch-bounded; incremental CC contracts to label graphs;
    # keyset pages are O(page) TakeOrdered; frame sampling is a capped
    # row-local explode
    "ann_index_streamed",
    "neardup_cc_incremental",
    "documents_keyset_page",
    "multimodal_frame_sample",
    # r14-staged real-codec gate: encode+decode is row-local mapInPandas
    # over a fixed 300-doc slice — cost is scale-INDEPENDENT by design
    "multimodal_codec_features",
    # round-16 staged candidates (pre-registration smokes): compaction is
    # pure I/O over code/posting rows; the sample/curriculum windows are
    # cap-bounded / phase-keyed
    "ann_index_compacted",
    "term_index_compacted",
    "cluster_capped_sample",
    "curriculum_order",
    # round-17 staged candidates (r15 staging, pre-registration smokes):
    # time-travel reads scan one version's layers; moment registers are
    # KB-bounded; tombstone probes add one anti-join; MaxSim explodes
    # x8 row-locally against a broadcast query side
    "versioned_time_travel",
    "embedding_drift_registers",
    "ann_index_tombstone_delete",
    "colbert_maxsim_topk",
]

DOC_STRIDE = 1_000_000
EVENT_STRIDE = 100_000_000
USER_STRIDE = 10_000_000


def build_sf1(spark, out_dir: str, copies: int = 10) -> None:
    from pyspark.sql import functions as F

    from vector_graph_rag_spark.sources.tables import load_table

    os.makedirs(out_dir, exist_ok=True)

    docs = load_table(spark, SF01, "documents")
    parts = [docs]
    for i in range(1, copies):
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * DOC_STRIDE)).alias("doc_id"),
                F.regexp_replace("text", r"(\S+)", f"$1c{i}").alias("text"),
                "lang",
                "source",
            ).withColumn("n_chars", F.length("text").cast("long"))
            .select("doc_id", "text", "lang", "source", "n_chars")
        )
    scaled_docs = parts[0]
    for p in parts[1:]:
        scaled_docs = scaled_docs.unionByName(p)
    scaled_docs.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )

    events = load_table(spark, SF01, "events")
    eparts = [events]
    for i in range(1, copies):
        eparts.append(
            events.select(
                (F.col("event_id") + F.lit(i * EVENT_STRIDE)).alias("event_id"),
                "ts",
                (F.col("user_id") + F.lit(i * USER_STRIDE)).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
        )
    scaled_events = eparts[0]
    for p in eparts[1:]:
        scaled_events = scaled_events.unionByName(p)
    scaled_events.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "events.parquet")
    )

    # embeddings: copies re-key vec_id into disjoint ranges with identical
    # vectors — 10x rows through the k-means assignment scan and centroid
    # update while the k=8 seed set (lowest vec_ids, all in copy 0) and the
    # cluster structure stay fixed: a fixed clustering against a grown corpus.
    emb = load_table(spark, SF01, "embeddings")
    mparts = [emb]
    for i in range(1, copies):
        mparts.append(
            emb.select(
                (F.col("vec_id") + F.lit(i * DOC_STRIDE)).alias("vec_id"),
                "embedding",
                "label",
            )
        )
    scaled_emb = mparts[0]
    for p in mparts[1:]:
        scaled_emb = scaled_emb.unionByName(p)
    scaled_emb.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )


def time_queries(spark, sf_dir: str, iters: int) -> dict[str, dict]:
    from vector_graph_rag_spark.queries import load_all
    from vector_graph_rag_spark.queries.graphrag import _graph

    registry = load_all(include_retired=True)
    t0 = time.perf_counter()
    _graph(spark, sf_dir)  # untimed build-once indexing
    print(f"# graph build ({sf_dir}): {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    # Full-materialization action + row count via Observation, and an
    # untimed GC after each run — the same honesty fixes as bench.py r8
    # (count-pruning and checkpoint-block pollution both distort scale
    # FACTORS just like absolute numbers; SCALE.md §Round-8 re-baseline).
    import gc

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    out: dict[str, dict] = {}
    for name in QUERIES:
        times, rows = [], 0
        for i in range(iters):
            t0 = time.perf_counter()
            obs = Observation(f"rows_{name}_{i}")
            df = registry[name].fn(spark, sf_dir)
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                "noop"
            ).mode("overwrite").save()
            rows = obs.get["n"]
            times.append(round(time.perf_counter() - t0, 3))
            del df, obs
            gc.collect()
            spark.sparkContext._jvm.System.gc()
        out[name] = {"iters": times, "min": min(times), "rows": rows}
        print(f"# {sf_dir} {name}: {times} ({rows} rows)", file=sys.stderr)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/sf1_equiv")
    ap.add_argument("--iters", type=int, default=2)
    ap.add_argument("--skip-build", action="store_true")
    ap.add_argument(
        "--copies", type=int, default=10,
        help="scale-up factor (e.g. 100 for an sf10-equivalent)",
    )
    ap.add_argument(
        "--queries", default=None,
        help="comma-separated subset of the default query list",
    )
    args = ap.parse_args()
    if args.queries:
        subset = args.queries.split(",")
        unknown = [q for q in subset if q not in QUERIES]
        if unknown:
            ap.error(f"not in the smoke set: {unknown}")
        QUERIES[:] = subset

    from vector_graph_rag_spark.session import get_spark

    spark = get_spark(app_name="scale_smoke")
    spark.sparkContext.setLogLevel("ERROR")

    if not args.skip_build:
        t0 = time.perf_counter()
        build_sf1(spark, args.out, copies=args.copies)
        print(f"# sf1-equivalent built in {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    base = time_queries(spark, SF01, args.iters)
    big = time_queries(spark, args.out, args.iters)
    report = {
        name: {
            "sf0.1_sec": base[name]["min"],
            "sf1_sec": big[name]["min"],
            "scaling_factor": round(big[name]["min"] / max(base[name]["min"], 1e-9), 2),
            "sf0.1_rows": base[name]["rows"],
            "sf1_rows": big[name]["rows"],
        }
        for name in QUERIES
    }
    print(json.dumps(report, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Build-vs-probe cost split for the stored/encoded vector-index bench
queries (r10 verdict, Next #5).

``ann_ivf_index_search`` (2.48s in BENCH_r10) and ``ann_ivfpq_topk``
(2.74s) both pay an index-construction cost inside every bench iteration —
a temp partitionBy(cell_id) parquet write for the former, the PQ
encode + eager localCheckpoint for the latter.  That is the intended demo
cost (the registered query exercises the whole stored-index contract), but
it conflates writer and reader regressions in cross-round drift pins.
This tool times the two phases separately at $SPARK_GRAFT_SF_DIR so
SCALE.md can carry per-phase rows:

  ann_ivf_index_search = build (write_ivf_index)      + probe (ivf_search)
  ann_ivfpq_topk       = build (train*+encode+ckpt)   + probe (assign-join + ADC rank)
                         (*codebook training is cached across the PQ family
                          — _PQ_BOOKS_CACHE — so it is reported separately
                          and NOT part of the per-iteration build)

Methodology matches bench.py: warm-min of 2, full-materialization noop
action for DataFrame phases, wall clock for durable writes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ITERS = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "2"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from vector_graph_rag_spark.functions.vector import cosine
    from vector_graph_rag_spark.operators.ivf import (
        assign_cells,
        ivf_search,
        write_ivf_index,
    )
    from vector_graph_rag_spark.operators.pq import adc_score, encode_pq
    from vector_graph_rag_spark.queries.pipeline import (
        _PQ_TOPK,
        _pq_quantized_and_books,
    )
    from vector_graph_rag_spark.session import get_spark
    from vector_graph_rag_spark.sources.tables import load_table

    spark = get_spark(app_name="index_build_probe_split")
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, SF_DIR, "embeddings")
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    out: dict[str, dict] = {}

    # --- ann_ivf_index_search: durable write vs partition-pruned probe ------
    builds, probes = [], []
    for _ in range(ITERS):
        index = tempfile.mkdtemp(prefix="vgr_split_ivf_")
        try:
            t0 = time.perf_counter()
            write_ivf_index(emb.select("vec_id", "embedding"), cent, index)
            builds.append(round(time.perf_counter() - t0, 3))
            t0 = time.perf_counter()
            _noop(ivf_search(spark, index, queries, cent, k=10, nprobe=2))
            probes.append(round(time.perf_counter() - t0, 3))
        finally:
            shutil.rmtree(index, ignore_errors=True)
    out["ann_ivf_index_search"] = {
        "build_runs": builds,
        "probe_runs": probes,
        "build_min": min(builds),
        "probe_min": min(probes),
    }

    # --- ann_ivfpq_topk: train (cached) / encode+ckpt / ADC probe -----------
    t0 = time.perf_counter()
    q, books = _pq_quantized_and_books(spark, SF_DIR)
    train_once = round(time.perf_counter() - t0, 3)
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("__cs"), F.asc("centroid_id"))
    w_rank = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    qvecs = [
        (int(r["vec_id"]), list(r["qv"]))
        for r in q.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105)).collect()
    ]
    builds, probes = [], []
    for _ in range(ITERS):
        t0 = time.perf_counter()
        enc = encode_pq(q, books).select("vec_id", "codes").localCheckpoint(eager=True)
        builds.append(round(time.perf_counter() - t0, 3))
        assign = assign_cells(emb.select("vec_id", "embedding"), cent)
        pairs = (
            queries.crossJoin(F.broadcast(cent))
            .withColumn("__cs", F.round(cosine("qvec", "cvec"), 6))
            .withColumn("__rk", F.row_number().over(w_probe))
            .filter(F.col("__rk") <= 2)
            .select("query_id", F.col("centroid_id").alias("cell_id"))
        )
        cand = assign.select("vec_id", "cell_id").join(F.broadcast(pairs), "cell_id")
        t0 = time.perf_counter()
        _noop(
            cand.join(enc, "vec_id")
            .withColumn("adc_dist", adc_score(qvecs, books))
            .withColumn("rank", F.row_number().over(w_rank))
            .filter(F.col("rank") <= _PQ_TOPK)
            .select("query_id", "vec_id", "adc_dist", "rank")
        )
        probes.append(round(time.perf_counter() - t0, 3))
    out["ann_ivfpq_topk"] = {
        "train_once_s (cached across PQ family)": train_once,
        "encode_ckpt_runs": builds,
        "adc_probe_runs": probes,
        "encode_ckpt_min": min(builds),
        "adc_probe_min": min(probes),
    }
    # --- dedup_index_incremental: signature pass / durable build / probe ----
    # The bench query (slowest headline, 8.79s in BENCH_r11) interleaves
    # three batch signature passes, three durable index shard writes,
    # three index probes and three self-pair scans in one number.  Split:
    # the corpus is indexed ONCE from batches 0-1 (the standing index),
    # then the nightly marginal cost is the batch-2 leg — signature pass,
    # probe + self-pairs (lazy, one noop action), and the append write.  The probe is the only part whose
    # cost may NOT scale with the batch (it scans the index), so it gets
    # its own pinned number.
    from vector_graph_rag_spark.streaming.dedup_index import (
        append_to_index,
        batch_signatures,
        probe_index,
        self_pairs,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    sig_runs, build_runs, probe_runs, append_runs = [], [], [], []
    for _ in range(ITERS):
        state = tempfile.mkdtemp(prefix="vgr_split_dindex_")
        try:
            t0 = time.perf_counter()
            sigs = [
                batch_signatures(docs.filter(F.col("doc_id") % 3 == b)).localCheckpoint(
                    eager=True
                )
                for b in range(3)
            ]
            sig_runs.append(round(time.perf_counter() - t0, 3))
            t0 = time.perf_counter()
            for b in range(2):  # standing index = batches 0-1
                append_to_index(sigs[b], state, b)
            build_runs.append(round(time.perf_counter() - t0, 3))
            t0 = time.perf_counter()  # nightly probe: batch 2 vs the index
            _noop(
                probe_index(spark, state, sigs[2])
                .select("index_doc_id", "new_doc_id", "est_jaccard")
                .unionByName(
                    self_pairs(sigs[2]).select(
                        F.col("doc_a").alias("index_doc_id"),
                        F.col("doc_b").alias("new_doc_id"),
                        "est_jaccard",
                    )
                )
            )
            probe_runs.append(round(time.perf_counter() - t0, 3))
            t0 = time.perf_counter()  # nightly append of the probed batch
            append_to_index(sigs[2], state, 2)
            append_runs.append(round(time.perf_counter() - t0, 3))
        finally:
            shutil.rmtree(state, ignore_errors=True)
    out["dedup_index_incremental"] = {
        "signature_pass_runs (3 batches)": sig_runs,
        "build_runs (2 batch writes)": build_runs,
        "probe_runs (batch-2 probe + self-pairs)": probe_runs,
        "append_runs (1 batch write)": append_runs,
        "signature_min": min(sig_runs),
        "build_min": min(build_runs),
        "probe_min": min(probe_runs),
        "append_min": min(append_runs),
    }

    print(json.dumps({"sf_dir": SF_DIR, **out}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()

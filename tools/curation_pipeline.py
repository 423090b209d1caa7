#!/usr/bin/env python
"""End-to-end curation pipeline demo: raw corpus → training shards on disk.

Chains the declared curation kernels the way a nightly pretraining-data job
would — every stage is the exact oracle-checked query kernel, composed by
doc_id joins, finishing with the ``write_training_shards`` sink:

  raw documents
    → language gate        (lang_id_heuristic: predicted_lang == en)
    → quality gate         (quality_score: length/stopword/punct thresholds)
    → repetition gate      (repetition_quality_filters: pass_repetition)
    → decontamination      (contamination_ngram_overlap: drop flagged docs;
                            the benchmark slice itself is excluded from
                            training by definition)
    → exact-dedup keeper   (dedup_exact: min-doc_id representative)
    → [--lm-filter]        (CCNet: bigram-LM perplexity tiers vs the trusted
                            src0 domain, tail tier dropped)
    → [--dsir-keep FRAC]   (DSIR: hashed-bigram importance weights vs the
                            src0 target, top-FRAC of the raw pool kept)
    → [--bpe-merges N]     (train a BPE tokenizer on the survivors and
                            report subword token accounting)
    → [--store DIR]        (commit survivors into the merge-on-read
                            versioned store: first run = base snapshot,
                            reruns = MERGE upserts + tombstones with the
                            added/changed/removed CDC delta reported —
                            the incremental nightly shape; the chain
                            auto-compacts at --compact-after layers)
    → [--stats DIR]        (record an HLL register shard and report
                            merged distinct estimates across runs)
    → sequence packing + partitioned shard write (write_training_shards)

Nightly shard promotion (one command)::

    python tools/curation_pipeline.py --sf ... --out ... \
        --store /data/corpus_store --stats /data/corpus_stats \
        --dedup-index /data/corpus_index --promote

curate → near-dup probe against the persistent index (read-only) →
drift-compare the candidate against the last promoted run's HLL shard +
quantile brackets → expectations gate (null/dup keys, empty text) → ONLY
THEN the durable writes: index append, OUT_blocks, MERGE commit +
auto-compact, stats/quantile/frequency shards + heavy-hitter report,
training shards.  A flagged drift (collapsed feed, vanished column, a
batch that near-dups away) REJECTS the whole run: exit 3, ``"promoted":
false`` with the flags in the report, and nothing — store version, stats
shards, dedup index, blocks, training shards — changes.  The rejected
batch's signatures in particular never enter the index, so a corrected
re-run re-signatures those doc_ids normally.  Golden-tested in
``tests/test_curation_kernels.py::test_curation_pipeline_promote_gate``
and ``::test_promote_gate_rejects_neardup_batch_end_to_end``.

Prints one JSON line with per-stage surviving-document counts and the
written shard/sequence totals.

Usage: python tools/curation_pipeline.py [--sf /root/testdata/sf0.01]
       [--out /tmp/training_shards] [--budget 256] [--shards 8]

At 100 TB every gate is the same per-row expression / broadcast join the
standalone queries use (SCALE.md §Corpus curation); the composition adds
only doc_id equi-joins between co-partitioned per-doc flag tables.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="/tmp/training_shards")
    ap.add_argument("--budget", type=int, default=256)
    ap.add_argument("--shards", type=int, default=8)
    ap.add_argument(
        "--span-dedup", action="store_true",
        help="also cut cross-doc repeated 10-token spans (ExactSubstr) "
             "from surviving docs before packing",
    )
    ap.add_argument(
        "--lm-filter", action="store_true",
        help="CCNet stage: train a bigram LM on the trusted domain "
             "(source=src0) and drop the worst-perplexity tail tier",
    )
    ap.add_argument(
        "--exact-tiers", action="store_true",
        help="with --lm-filter, use the exact global-rank tier split "
             "instead of the default sketched cut points; the exact path "
             "funnels the scored corpus through one sort partition — "
             "fine at sample scale, wrong at 100 TB",
    )
    ap.add_argument(
        "--bpe-merges", type=int, default=None, metavar="N",
        help="train an N-merge BPE tokenizer on the surviving corpus and "
             "report subword token accounting (pieces/word, chars/piece) "
             "alongside the whitespace counts",
    )
    ap.add_argument(
        "--dsir-keep", type=float, default=None, metavar="FRAC",
        help="DSIR stage: keep only the FRAC highest importance-weight "
             "documents (target distribution = source=src0)",
    )
    ap.add_argument(
        "--pack-blocks", type=int, default=None, metavar="B",
        help="with --bpe-merges, also encode survivors to BPE ids and "
             "slice them into exact fixed-length training blocks of B "
             "tokens (GPT-style concat-and-slice; operators/packing.py), "
             "written under OUT_blocks",
    )
    ap.add_argument(
        "--store", default=None, metavar="DIR",
        help="commit the curated corpus into the versioned store at DIR "
             "via merge-on-read MERGE (upsert survivors, tombstone keys "
             "that fell out since the last run) and report the CDC delta "
             "— the incremental nightly-run shape",
    )
    ap.add_argument(
        "--dedup-index", default=None, metavar="DIR",
        help="persistent LSH near-dup index (streaming/dedup_index.py): "
             "drop tonight's docs that near-dup (est jaccard >= 0.5) any "
             "prior run's survivors or a lower-id doc in tonight's batch, "
             "then append the kept docs' signatures — the corpus is never "
             "re-signatured.  With --promote the append happens only "
             "after the drift gate passes",
    )
    ap.add_argument(
        "--dedup-index-cap", type=int, default=10000, metavar="N",
        help="with --dedup-index: skip index band buckets holding more "
             "than N docs when probing (default ON at 10000; 0 disables). "
             "A bucket that hot is boilerplate/stop-text whose members "
             "exact-dedup already catches; probing it fans the join out "
             "by its full occupancy per matching new doc.  The number of "
             "skipped buckets is reported (neardup_hot_buckets_skipped) — "
             "never silent truncation",
    )
    ap.add_argument(
        "--vector-index", default=None, metavar="DIR",
        help="persistent IVF-PQ ANN index (streaming/vector_index.py): "
             "embed tonight's survivors and append their PQ codes as a "
             "new batch shard — quantizers (coarse centroids + codebooks) "
             "are trained on the FIRST run and frozen under DIR/quantizers "
             "(sample-train, encode-all), so later appends never go "
             "stale; already-indexed doc_ids are skipped (idempotent "
             "re-runs).  With --promote the append (and the first run's "
             "quantizer persist) happen only after the drift gate passes",
    )
    ap.add_argument(
        "--stats", default=None, metavar="DIR",
        help="write an HLL register shard for the curated corpus under "
             "DIR and report the merged distinct estimates across all "
             "recorded runs (streaming/corpus_stats.py)",
    )
    ap.add_argument(
        "--curriculum", action="store_true",
        help="pack training sequences in curriculum order (clean-long -> "
             "clean-short -> rest by the quality gates, deterministic hash "
             "shuffle within each phase) instead of doc_id order — the "
             "sort key rides the per-shard sequential pack, no corpus "
             "ordinal window (queries/textstats.curriculum_order "
             "documents the escalation)",
    )
    ap.add_argument(
        "--compact-index-after", type=int, default=0, metavar="N",
        help="with --vector-index: once the shard tree holds >= N batch "
             "shards after tonight's append, fold them into one compacted "
             "shard (streaming/vector_index.compact_index — pure I/O, "
             "codes moved, nothing re-encoded) and drop the sources; "
             "bounds files-per-probe growth across nightly appends. "
             "0 disables",
    )
    ap.add_argument(
        "--index-delete", default=None, metavar="PATH",
        help="with --vector-index: tombstone these ids (a parquet file/dir "
             "carrying a vec_id or doc_id column — the takedown / "
             "right-to-be-forgotten list) as an id-only delete shard "
             "(streaming/vector_index.append_tombstones).  Searches "
             "exclude them immediately (anti-join before ranking); the "
             "next compaction removes their codes physically and SPENDS "
             "the tombstones, after which the ids are re-indexable.  "
             "Until that compaction the ids count as already-indexed, so "
             "nightly re-appends keep skipping them",
    )
    ap.add_argument(
        "--compact-after", type=int, default=8, metavar="N",
        help="with --store: auto-compact the merge-on-read chain into a "
             "new base once it reaches N layers (chain-read cost is "
             "measured linear in chain length; compaction resets it). "
             "0 disables",
    )
    ap.add_argument(
        "--promote", action="store_true",
        help="nightly promote-gate: BEFORE committing anything, compare "
             "this run's corpus statistics against the last recorded "
             "shard (--stats DIR) and REJECT the whole run (exit 3, no "
             "store commit, no shard, no training shards) when the drift "
             "check flags a break — collapsed feed, vanished column. "
             "Requires --store and --stats",
    )
    ap.add_argument(
        "--limit", type=int, default=None, metavar="N",
        help="debug/sampling: curate only the first N documents by doc_id "
             "(the funnel is doc_id equi-joins, so the whole pipeline "
             "shrinks with the spine)",
    )
    args = ap.parse_args()
    if args.promote and not (args.store and args.stats):
        ap.error("--promote requires --store and --stats")
    if args.index_delete and not args.vector_index:
        ap.error("--index-delete requires --vector-index")

    from pyspark.sql import functions as F

    from vector_graph_rag_spark.queries.curation import (
        _DECON_MOD,
        contamination_ngram_overlap,
        repetition_quality_filters,
        write_training_shards,
    )
    from vector_graph_rag_spark.queries.dedup import dedup_exact
    from vector_graph_rag_spark.queries.textstats import lang_id_heuristic, quality_score
    from vector_graph_rag_spark.session import get_spark
    from vector_graph_rag_spark.sources.tables import load_table

    spark = get_spark(app_name="curation_pipeline")
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, args.sf, "documents")
    if args.limit:
        # deterministic sample: the funnel is doc_id equi-joins against
        # kernel keep-sets, so limiting the spine limits every stage
        docs = docs.orderBy("doc_id").limit(args.limit)
    counts: dict[str, int] = {"raw": docs.count()}

    lang_ok = (
        lang_id_heuristic(spark, args.sf)
        .filter(F.col("predicted_lang") == "en")
        .select("doc_id")
    )
    stage = docs.join(lang_ok, "doc_id", "left_semi")
    counts["lang_en"] = stage.count()

    quality_ok = (
        quality_score(spark, args.sf).filter(F.col("passes_quality") == 1).select("doc_id")
    )
    stage = stage.join(quality_ok, "doc_id", "left_semi")
    counts["quality"] = stage.count()

    rep_ok = (
        repetition_quality_filters(spark, args.sf)
        .filter(F.col("pass_repetition"))
        .select("doc_id")
    )
    stage = stage.join(rep_ok, "doc_id", "left_semi")
    counts["repetition"] = stage.count()

    contaminated = contamination_ngram_overlap(spark, args.sf).select("doc_id")
    stage = (
        stage.filter(F.col("doc_id") % _DECON_MOD != 0)  # benchmark slice out
        .join(contaminated, "doc_id", "left_anti")
    )
    counts["decontaminated"] = stage.count()

    keepers = dedup_exact(spark, args.sf).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    stage = stage.join(keepers, "doc_id", "left_semi")
    counts["dedup_keeper"] = stage.count()

    # durable writes staged behind the promote gate: a rejected run must
    # leave the dedup index and OUT_blocks exactly as it found them
    deferred_index_append = None  # (kept_new, shard_id)
    deferred_blocks = None

    if args.dedup_index is not None:
        from vector_graph_rag_spark.streaming.dedup_index import (
            batch_signatures,
            hot_buckets,
            list_batch_ids,
            probe_index,
            read_signatures,
            self_pairs,
        )

        thr = 0.5
        cap = args.dedup_index_cap or None
        sig = batch_signatures(stage).localCheckpoint(eager=True)
        # a doc_id already in the index is a canonical re-run of the same
        # document, not a near-dup candidate: it neither probes nor
        # re-appends (idempotent nightly re-runs).  Only genuinely NEW ids
        # pass the near-dup gate: drop a new doc that near-dups any
        # indexed doc (the indexed copy wins — first-seen keeps) or a
        # lower-id doc in tonight's batch.
        existing_ids = list_batch_ids(spark, args.dedup_index)
        if existing_ids:
            idx_ids = (
                read_signatures(spark, args.dedup_index, existing_ids)
                .select("doc_id")
                .distinct()
            )
            new_sig = sig.join(idx_ids, "doc_id", "left_anti").localCheckpoint(
                eager=True
            )
            # surface what the cap skips (no silent truncation): the
            # index buckets this run's probe drops as boilerplate fan-out
            if cap:
                counts["neardup_hot_buckets_skipped"] = hot_buckets(
                    spark, args.dedup_index, new_sig, cap, ids=existing_ids
                ).count()
        else:
            new_sig = sig
        idx_dups = (
            probe_index(spark, args.dedup_index, new_sig, bucket_cap=cap)
            .filter(F.col("est_jaccard") >= thr)
            .select(F.col("new_doc_id").alias("doc_id"))
        )
        self_dups = (
            self_pairs(new_sig, bucket_cap=cap)
            .filter(F.col("est_jaccard") >= thr)
            .select(F.col("doc_b").alias("doc_id"))
        )
        drop = idx_dups.unionByName(self_dups).distinct()
        stage = stage.join(drop, "doc_id", "left_anti")
        counts["neardup_index"] = stage.count()
        # only the kept docs enter the index (canonical corpus);
        # max(existing)+1, never len() (the --stats shard-id collision,
        # ADVICE r7).  The append itself is DEFERRED until after the
        # promote gate: a rejected batch's signatures must never become
        # canonical (a doc_id-level skip on the corrected re-run would
        # otherwise leave those docs permanently un-signatured).
        shard_id = max(existing_ids) + 1 if existing_ids else 0
        kept_new = new_sig.join(stage.select("doc_id"), "doc_id", "left_semi")
        deferred_index_append = (kept_new, shard_id)
        counts["neardup_index_shard"] = shard_id

    if args.lm_filter:
        from vector_graph_rag_spark.operators.lm_filter import (
            lm_cross_entropy,
            perplexity_buckets,
            perplexity_buckets_approx,
            train_bigram_lm,
        )

        model = train_bigram_lm(stage.filter(F.col("source") == "src0"))
        # Default = the sketched cut points (no global sort) — this CLI is
        # the 100 TB entry point; the exact global-rank split is opt-in for
        # sample-scale runs that need reproducible tier boundaries.
        tier_fn = perplexity_buckets if args.exact_tiers else perplexity_buckets_approx
        tiers = tier_fn(lm_cross_entropy(stage, model))
        keep = tiers.filter(F.col("tier") != "tail").select("doc_id")
        stage = stage.join(keep, "doc_id", "left_semi")
        counts["lm_perplexity"] = stage.count()

    if args.dsir_keep is not None:
        from vector_graph_rag_spark.operators.lm_filter import (
            dsir_importance_weights,
            dsir_select,
        )

        weights = dsir_importance_weights(
            stage.withColumn("is_t", F.col("source") == "src0"), "is_t"
        )
        n_raw = weights.count()
        n_keep = max(1, int(n_raw * args.dsir_keep))
        picked = dsir_select(weights, n_keep).select("doc_id")
        # target-domain docs always train; raw pool shrinks to the selection
        stage = stage.filter(F.col("source") == "src0").unionByName(
            stage.join(picked, "doc_id", "left_semi")
        )
        counts["dsir_selected"] = stage.count()

    if args.span_dedup:
        from vector_graph_rag_spark.queries.dedup import remove_shared_spans

        cleaned = remove_shared_spans(stage)
        counts["span_tokens_removed"] = int(
            cleaned.agg(F.sum("n_removed_tokens")).collect()[0][0] or 0
        )
        # re-attach the non-text columns the span stage projects away —
        # downstream stages (--store / --stats / DSIR) select `source`
        stage = cleaned.select(
            "doc_id", F.col("cleaned_text").alias("text")
        ).join(stage.drop("text"), "doc_id")

    if args.bpe_merges is not None:
        from vector_graph_rag_spark.operators.bpe import bpe_token_stats, train_bpe

        bpe = train_bpe(stage, n_merges=args.bpe_merges)
        stats = bpe_token_stats(stage, bpe).collect()[0]
        counts["bpe_merges"] = len(bpe["merges"])
        counts["bpe_vocab"] = len(bpe["vocab"])
        counts["bpe_pieces_per_word"] = round(stats["pieces_per_word"], 4)
        counts["bpe_chars_per_piece"] = round(stats["chars_per_piece"], 4)

        if args.pack_blocks is not None:
            from vector_graph_rag_spark.operators.bpe import bpe_encode_ids
            from vector_graph_rag_spark.operators.packing import pack_fixed_blocks

            # eod must not collide with bpe_encode_ids' reserved <unk>=V,
            # or OOV pieces become indistinguishable from doc boundaries.
            # The OUT_blocks write is DEFERRED behind the promote gate
            # (a rejected run leaves no blocks on disk).
            deferred_blocks = pack_fixed_blocks(
                bpe_encode_ids(stage, bpe),
                args.pack_blocks,
                eod_id=len(bpe["vocab"]) + 1,
            )

    deferred_vector_append = None
    if args.vector_index is not None:
        from vector_graph_rag_spark.functions.embedding import mock_embedding
        from vector_graph_rag_spark.operators.pq import (
            quantize_embeddings,
            train_pq_codebooks,
        )
        from vector_graph_rag_spark.streaming import shards
        from vector_graph_rag_spark.streaming import vector_index as VI

        from vector_graph_rag_spark.operators.pq import PQ_DIM

        # dim must match the PQ geometry (PQ_DIM = M x SUB); the default
        # 8-dim mock would put encode_pq's subvector slices out of bounds
        vbatch = stage.select(
            F.col("doc_id").alias("vec_id"),
            mock_embedding("text", dim=PQ_DIM).alias("embedding"),
        )
        v_ids = VI.list_batch_ids(spark, args.vector_index)
        if v_ids:
            # a doc_id already indexed is a canonical re-run, not new data:
            # skip it (idempotent nightly re-runs; column-pruned vec_id read)
            seen = (
                shards.read_batches(spark, args.vector_index, v_ids)
                .select("vec_id")
                .distinct()
            )
            vbatch = vbatch.join(seen, "vec_id", "left_anti")
        vbatch = vbatch.localCheckpoint(eager=True)
        qdir = os.path.join(args.vector_index, "quantizers")
        new_quantizers = False
        # Freeze detection keys on codebooks.json — the LAST artifact the
        # post-gate persist writes (os.replace-atomic).  Keying on the dir
        # would wedge every later run if a crash landed centroids but not
        # codebooks: the frozen branch would then die on the missing json
        # forever.  A half-written qdir (no codebooks.json) is simply
        # retrained and overwritten.
        if os.path.exists(os.path.join(qdir, "codebooks.json")):
            v_cent = spark.read.parquet(os.path.join(qdir, "centroids.parquet"))
            with open(os.path.join(qdir, "codebooks.json")) as f:
                v_books = [
                    [(int(c), [int(x) for x in vec]) for c, vec in book]
                    for book in json.load(f)
                ]
        else:
            v_cent = (
                vbatch.orderBy("vec_id")
                .limit(8)
                .select(
                    F.col("vec_id").alias("centroid_id"),
                    F.col("embedding").alias("cvec"),
                )
                .localCheckpoint(eager=True)
            )
            v_books = train_pq_codebooks(quantize_embeddings(vbatch), updates=1)
            new_quantizers = True
        v_shard = max(v_ids) + 1 if v_ids else 0
        counts["vector_index_shard"] = v_shard
        counts["vector_index_new"] = vbatch.count()
        deferred_vector_append = (vbatch, v_cent, v_books, v_shard, new_quantizers)

    deferred_vector_delete = None
    if args.index_delete is not None:
        # Takedown list: same deferred commit discipline as the append —
        # the nightly run either commits wholly or not at all; a
        # gate-rejected run re-applies the (idempotent) tombstones tomorrow.
        del_df = spark.read.parquet(args.index_delete)
        idcol = "vec_id" if "vec_id" in del_df.columns else "doc_id"
        deferred_vector_delete = (
            del_df.select(F.col(idcol).cast("long").alias("vec_id"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        counts["index_delete_ids"] = deferred_vector_delete.count()

    # --- promote gate: drift check FIRST, before any commit ------------------
    # The nightly promotion order is curate → drift-compare → expectations →
    # commit: a broken feed (ingest collapse, vanished column) must be caught
    # by comparing the CANDIDATE shard against the last promoted one before
    # the store, the stats history, or the training shards see a single row.
    if args.promote:
        import shutil as _shutil
        import tempfile as _tempfile

        from vector_graph_rag_spark.streaming.corpus_stats import (
            corpus_quantiles,
            corpus_stats,
            list_batch_ids,
            quantile_drift,
            stats_drift,
            write_batch_quantiles,
            write_batch_stats,
        )

        promoted_ids = list_batch_ids(spark, args.stats)
        q_ids = list_batch_ids(spark, args.stats + "_quantiles")
        if promoted_ids:  # first-ever run has nothing to drift against
            cand = _tempfile.mkdtemp(prefix="vgr_promote_")
            try:
                write_batch_stats(
                    stage, cand, 0, ["doc_id", "source", "text"]
                )
                flagged = (
                    stats_drift(
                        corpus_stats(spark, cand),
                        corpus_stats(spark, args.stats, ids=promoted_ids[-1:]),
                    )
                    .filter(~F.col("ok"))
                    .collect()
                )
                drift_msgs = [
                    f"{r['col']}.{r['metric']}: {r['prev']} -> {r['cur']}"
                    for r in flagged
                ]
                # distribution-shape gate: a feed can keep totals flat
                # while moving P50/P99 (truncation + duplication); the
                # quantile brackets catch what additive counters mask
                if q_ids:
                    qcand = os.path.join(cand, "quantiles")
                    write_batch_quantiles(stage, qcand, 0, ["n_chars"])
                    qflagged = (
                        quantile_drift(
                            corpus_quantiles(spark, qcand),
                            corpus_quantiles(
                                spark, args.stats + "_quantiles", ids=q_ids[-1:]
                            ),
                        )
                        .filter(~F.col("ok"))
                        .collect()
                    )
                    drift_msgs += [
                        f"{r['col']}.p{int(r['q'] * 100)}: "
                        f"[{r['prev_lo']}, {r['prev_hi']}] -> "
                        f"[{r['cur_lo']}, {r['cur_hi']}]"
                        for r in qflagged
                    ]
            finally:
                _shutil.rmtree(cand, ignore_errors=True)
            if drift_msgs:
                counts["stats_drift_flags"] = drift_msgs
                print(
                    json.dumps(
                        {"out": args.out, "promoted": False, "funnel": counts}
                    )
                )
                spark.stop()
                sys.exit(3)

        # expectations gate, still BEFORE any durable write: the store
        # re-enforces these same constraints on commit, but by then the
        # index append and OUT_blocks would already have landed — a batch
        # that fails them must reject as cleanly as a drift flag does
        from vector_graph_rag_spark.operators import expectations as X

        exp_failed = [
            r
            for r in X.validate(
                stage.select("doc_id", "text", "source"),
                [
                    X.not_null("doc_id"),
                    X.unique("doc_id"),
                    X.not_null("text"),
                    X.row_count_between(1),
                ],
            )
            if not r.ok
        ]
        if exp_failed:
            counts["expectations_flags"] = [
                f"{r.name}: {r.observed}" for r in exp_failed
            ]
            print(
                json.dumps(
                    {"out": args.out, "promoted": False, "funnel": counts}
                )
            )
            spark.stop()
            sys.exit(3)

    # --- past the gate: durable writes only from here on ---------------------
    if deferred_index_append is not None:
        from vector_graph_rag_spark.streaming.dedup_index import append_to_index

        kept_new, shard_id = deferred_index_append
        append_to_index(kept_new, args.dedup_index, shard_id)
        counts["neardup_index_appended"] = kept_new.count()

    if deferred_vector_delete is not None:
        from vector_graph_rag_spark.streaming.vector_index import (
            append_tombstones as _vector_tombstone,
            list_tombstone_ids as _tomb_list,
        )

        t_ids = _tomb_list(spark, args.vector_index)
        tomb_id = max(t_ids) + 1 if t_ids else 0
        _vector_tombstone(deferred_vector_delete, args.vector_index, tomb_id)
        counts["index_tombstone_batch"] = tomb_id

    if deferred_vector_append is not None:
        from vector_graph_rag_spark.streaming.vector_index import (
            append_to_index as _vector_append,
        )

        vbatch, v_cent, v_books, v_shard, new_quantizers = deferred_vector_append
        # an empty batch (everything filtered / already indexed) or an
        # empty corpus (no trainable codebooks) appends nothing — and a
        # first run that trained on nothing must NOT freeze empty
        # quantizers, so a later real first-run can train properly
        if counts.get("vector_index_new", 0) > 0 and any(v_books):
            if new_quantizers:
                qdir = os.path.join(args.vector_index, "quantizers")
                v_cent.coalesce(1).write.mode("overwrite").parquet(
                    os.path.join(qdir, "centroids.parquet")
                )
                tmp = os.path.join(qdir, ".codebooks.json.tmp")
                with open(tmp, "w") as f:
                    json.dump(
                        [[[c, list(vec)] for c, vec in book] for book in v_books],
                        f,
                    )
                os.replace(tmp, os.path.join(qdir, "codebooks.json"))
            _vector_append(vbatch, v_cent, v_books, args.vector_index, v_shard)
            counts["vector_index_appended"] = counts["vector_index_new"]

    # Compaction threshold check runs INDEPENDENTLY of tonight's append:
    # a pure-maintenance night (takedown tombstones landed, nothing new to
    # index) must still fold the tree — that is exactly the night the
    # physical tombstone removal happens.
    if args.vector_index is not None and args.compact_index_after:
        from vector_graph_rag_spark.streaming.vector_index import (
            compact_index,
            list_tombstone_ids as _t_list,
            list_batch_ids as _v_list,
        )

        ids_now = _v_list(spark, args.vector_index)
        pending_tombs = bool(_t_list(spark, args.vector_index))
        if ids_now and (len(ids_now) >= args.compact_index_after or pending_tombs):
            # fold into a NEW batch id inside the same tree; in-place
            # compact_index owns the whole crash-safe sequence itself —
            # write compacted shard, drop source shards, THEN spend the
            # tombstones — so no cleanup loop runs here (a spend that
            # preceded the source drop could strand tombstoned vectors
            # in surviving shards after a crash; r15 ADVICE).  Readers
            # between the write and the drop see duplicates, so this
            # runs inside the nightly batch window (the registered
            # ann_index_compacted query pins the publish-then-swap
            # variant for online indexes).  Pending tombstones force
            # the fold regardless of the batch-count threshold:
            # compaction is their physical removal + spend.
            comp_id = max(ids_now) + 1
            compact_index(
                spark, args.vector_index, args.vector_index, comp_id
            )
            counts["vector_index_compacted_from"] = len(ids_now)
            counts["vector_index_batches"] = 1

    if deferred_blocks is not None:
        deferred_blocks.write.mode("overwrite").parquet(args.out + "_blocks")
        counts["blocks_written"] = spark.read.parquet(args.out + "_blocks").count()
        counts["block_len"] = args.pack_blocks

    store_version = 0
    if args.store is not None:
        from vector_graph_rag_spark.sources.versioned import VersionedCorpus

        from vector_graph_rag_spark.operators import expectations as X

        store = VersionedCorpus(spark, args.store)
        cols = ["doc_id", "text", "source"]
        cur = stage.select(*cols)
        # commit gate: a curated corpus with a null/duplicate key or empty
        # text never lands in the store (Delta-constraint semantics)
        gate = [
            X.not_null("doc_id"),
            X.unique("doc_id"),
            X.not_null("text"),
            X.row_count_between(1),
        ]
        if store.latest_version() == 0:
            store_version = store.write(cur, checks=gate)
        else:
            gone = (
                store.read()
                .select("doc_id")
                .join(cur.select("doc_id"), "doc_id", "left_anti")
                .select(
                    "doc_id",
                    *[F.lit(None).cast("string").alias(c) for c in cols[1:]],
                    F.lit(True).alias("is_delete"),
                )
            )
            ups = cur.withColumn("is_delete", F.lit(False))
            store_version = store.merge(
                ups.unionByName(gone),
                key="doc_id",
                delete_col="is_delete",
                checks=[X.not_null("doc_id"), X.unique("doc_id")],
            )
            delta = (
                store.diff(store_version - 1, store_version)
                .groupBy("change")
                .count()
                .collect()
            )
            for r in delta:
                counts[f"store_{r['change']}"] = r["count"]
        counts["store_version"] = store_version
        if args.compact_after:
            compacted = store.maybe_compact(args.compact_after)
            if compacted is not None:
                counts["store_compacted_to"] = compacted
                store_version = compacted
        counts["store_chain_length"] = store.chain_length()

    if args.stats is not None:
        from vector_graph_rag_spark.streaming.corpus_stats import (
            corpus_stats,
            list_batch_ids,
            write_batch_stats,
        )

        existing_ids = list_batch_ids(spark, args.stats)
        # shard id: the store version when --store is on (reruns of the
        # same version overwrite their own shard — idempotent), else
        # max(existing)+1.  NOT len(existing): store versions and
        # standalone slots share one numbering, so a standalone run after
        # a store run would compute an id equal to an existing shard and
        # silently overwrite it — corrupting the cumulative distincts and
        # making the drift check compare the shard against itself
        # (ADVICE r7).
        batch_id = store_version or (
            max(existing_ids) + 1 if existing_ids else 0
        )
        # drift compares THIS run's shard against the previous run's shard
        # (cumulative register unions are monotone, so a collapsed feed
        # would never show against the whole-history merge); a rerun that
        # overwrites its own shard (batch_id already present) must compare
        # against the shard BEFORE it, never against itself
        prior = [i for i in existing_ids if i != batch_id]
        write_batch_stats(
            stage, args.stats, batch_id, ["doc_id", "source", "text"]
        )
        for r in corpus_stats(spark, args.stats).collect():
            counts[f"distinct_{r['col']}"] = int(r["distinct_est"])
        # length-distribution registers ride a sibling shard tree: same
        # batch ids, same overwrite-idempotence, merge = SUM (exactly
        # sharding-invariant) — P50/P99 document length across every
        # recorded run without re-reading any corpus
        from vector_graph_rag_spark.streaming.corpus_stats import (
            corpus_quantiles,
            write_batch_quantiles,
        )

        write_batch_quantiles(
            stage, args.stats + "_quantiles", batch_id, ["n_chars"]
        )
        for r in corpus_quantiles(
            spark, args.stats + "_quantiles", qs=(0.5, 0.99)
        ).collect():
            counts[f"{r['col']}_p{int(r['q'] * 100)}"] = [r["lo"], r["hi"]]
        # frequency registers + guaranteed heavy-hitter candidates ride a
        # third sibling shard tree (streaming/freq_sketch.py): the merged
        # report gives honest [cnt_lower, cm_upper] brackets — which
        # sources dominate every promoted run, never re-reading a corpus
        from vector_graph_rag_spark.streaming.freq_sketch import (
            corpus_heavy_hitters,
            write_batch_freq,
        )

        write_batch_freq(stage, args.stats + "_freq", batch_id, ["source"])
        counts["heavy_hitters_source"] = [
            [r["value"], int(r["cnt_lower"]), int(r["cm_upper"])]
            for r in corpus_heavy_hitters(spark, args.stats + "_freq", top=5)
            .filter(F.col("col") == "source")
            .collect()
        ]
        if prior:
            from vector_graph_rag_spark.streaming.corpus_stats import stats_drift

            prev_run = corpus_stats(spark, args.stats, ids=prior[-1:])
            this_run = corpus_stats(spark, args.stats, ids=[batch_id])
            flagged = stats_drift(this_run, prev_run).filter(~F.col("ok")).collect()
            counts["stats_drift_flags"] = [
                f"{r['col']}.{r['metric']}: {r['prev']} -> {r['cur']}"
                for r in flagged
            ]

    order_col = None
    if args.curriculum:
        # phase * 2^61 + hash60(doc_id): phase-major, hash-shuffled within
        # (phase <= 3 and hash60 < 2^60, so the packed key stays < 2^63)
        from vector_graph_rag_spark.functions.hashing import hash60
        from vector_graph_rag_spark.queries.textstats import (
            _CURR_LONG_TOKENS,
            _STOPWORDS,
        )
        from vector_graph_rag_spark.functions.text import tokens as _toks

        t = _toks("text")
        n_tokens = F.size(t).cast("bigint")
        n_stop = F.size(F.filter(t, lambda x: x.isin(_STOPWORDS)))
        passes = (
            (n_tokens >= 20)
            & (n_stop.cast("double") / F.nullif(n_tokens, F.lit(0)) >= 0.01)
            & (
                F.regexp_count("text", F.lit("[^A-Za-z0-9 ]")).cast("double")
                / F.nullif(F.length("text"), F.lit(0))
                <= 0.2
            )
        )
        phase = (
            F.when(passes & (n_tokens >= _CURR_LONG_TOKENS), F.lit(1))
            .when(passes, F.lit(2))
            .otherwise(F.lit(3))
            .cast("long")
        )
        order_col = phase * F.lit(2**61).cast("long") + hash60(
            F.col("doc_id").cast("string")
        )
        counts["curriculum"] = True
    write_training_shards(
        stage, args.out, budget=args.budget, shards=args.shards, order_col=order_col
    )
    shards_df = spark.read.parquet(args.out)
    counts["sequences_written"] = shards_df.count()
    counts["tokens_written"] = shards_df.agg(F.sum("n_tokens")).collect()[0][0]

    report = {"out": args.out, "funnel": counts}
    if args.promote:
        report["promoted"] = True
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()

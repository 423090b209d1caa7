"""Incremental n-gram LM maintenance from a document stream.

The CCNet-style quality filter (`operators/lm_filter.py`) scores candidates
under an n-gram LM trained on a trusted corpus.  In production that trusted
corpus GROWS — new vetted shards land continuously — and retraining from
scratch per shard is a full-corpus pass.  n-gram counts are additive, so
the streaming-native maintenance is: count each micro-batch, store the
counts, aggregate at model-build time.

Design (append-only shard layout, not read-modify-write):

- Each micro-batch writes its unigram and bigram count tables as
  ``streaming/shards`` batch shards, ``state_dir/{uni,bi}/batch=<id>``,
  under that module's contract: a replayed batch id replaces its own
  shards, and the unigram shard is the batch's commit marker (bigrams
  are written first), so ``lm_from_counts`` never sees half a batch.
  A stream drives the writer through ``shards.stream_batches``.
- ``lm_from_counts`` reads the marked batches and aggregates (``groupBy``
  sum) into exactly the tables ``train_bigram_lm`` builds — counts are
  integers, so the derived model is BIT-IDENTICAL to batch training on the
  union corpus (test-pinned: cross-entropy scores equal exactly, not
  approximately).
- Shard files are vocab-sized, not corpus-sized.

Scale: per micro-batch cost is one map-side-combined count over the batch;
model-build cost is a vocab-sized aggregation over shards.  The corpus is
never re-read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_graph_rag_spark.operators.lm_filter import _bigrams, _unigrams
from vector_graph_rag_spark.streaming import shards


_UNI_SCHEMA = "tok string, c_uni long"
_BI_SCHEMA = "prev string, tok string, c_bi long"


def _roots(state_dir: str) -> tuple[str, str]:
    return os.path.join(state_dir, "uni"), os.path.join(state_dir, "bi")


def list_batch_ids(spark: SparkSession, state_dir: str) -> list[int]:
    """Committed batch ids: the listing of the unigram (marker) tree."""
    return shards.list_batch_ids(spark, _roots(state_dir)[0])


def write_batch_counts(
    batch_df: DataFrame, state_dir: str, batch_id: int, text_col: str = "text"
) -> None:
    """Count one micro-batch and replace its shards in the shard store's
    commit order (bigrams, then the unigram marker)."""
    uni_root, bi_root = _roots(state_dir)
    uni = _unigrams(batch_df, text_col).groupBy("tok").agg(
        F.count("*").alias("c_uni")
    )
    bi = _bigrams(batch_df, text_col).groupBy("prev", "tok").agg(
        F.count("*").alias("c_bi")
    )
    shards.write_batch(
        batch_df.sparkSession,
        batch_id,
        [
            (bi_root, lambda path: bi.write.parquet(path)),
            (uni_root, lambda path: uni.write.parquet(path)),
        ],
    )


def lm_from_counts(spark: SparkSession, state_dir: str, alpha: float = 0.1) -> dict:
    """Aggregate the committed shards into the exact ``train_bigram_lm`` model
    dict — same tables, same smoothing arithmetic, bit-identical scores."""
    # lazy checkpoints (r17): uni_counts feeds the totals collect AND the
    # p_uni projection; bi feeds the context agg AND the join side — each
    # shard aggregation executed twice without the cut (the
    # ngram_jaccard_pairs repeated-subtree finding).  The totals collect
    # below (still inside this call, before any scratch cleanup)
    # materializes uni_counts; the caller's first action materializes bi.
    uni_root, bi_root = _roots(state_dir)
    ids = list_batch_ids(spark, state_dir)
    uni_counts = (
        shards.read_declared(spark, uni_root, _UNI_SCHEMA, ids)
        .groupBy("tok")
        .agg(F.sum("c_uni").alias("c_uni"))
        .localCheckpoint(eager=False)
    )
    bi = (
        shards.read_declared(spark, bi_root, _BI_SCHEMA, ids)
        .groupBy("prev", "tok")
        .agg(F.sum("c_bi").alias("c_bi"))
        .localCheckpoint(eager=False)
    )
    ctx = bi.groupBy("prev").agg(F.sum("c_bi").alias("c_prev"))
    bi = bi.join(ctx, "prev")
    total, vocab = uni_counts.agg(
        F.sum("c_uni").alias("t"), F.count("*").alias("v")
    ).collect()[0]
    total, vocab = total or 0, vocab or 0
    uni = uni_counts.select(
        "tok",
        (
            (F.col("c_uni") + F.lit(alpha))
            / F.lit(float(total) + alpha * (int(vocab) + 1))
        ).alias("p_uni"),
    )
    return {
        "uni": uni,
        "bi": bi,
        "vocab_size": int(vocab),
        "total_tokens": int(total),
        "alpha": float(alpha),
    }

"""Persistent incremental inverted term index — the nightly lexical path
that never re-tokenizes the corpus.

``queries/search_api.write_term_index`` materializes the whole corpus's
posting table in one shot; at 100 TB documents arrive nightly, and
re-tokenizing (or rewriting) the accumulated postings per batch is the
cost this module removes.  Each batch's documents are tokenized ONCE and
their (doc_id, term, w) rows land in a ``streaming/shards`` batch-shard
tree, which owns the layout, replay delete-first, tombstones beside shards
and the drop-sources-then-spend compaction order:

    index_dir/batch=<id>/part-*.parquet              (doc_id, term, w)
    index_dir/tombstones/batch=<id>/part-*.parquet   (doc_id)

Invariants (test-pinned + oracle-gated by the staged
``term_index_incremental`` query, whose oracle is ``sparse_dot_topk``'s
SQL verbatim):

- **incremental == one-shot**: the posting table is a disjoint union over
  doc ids — tokenization is row-local, a document's tf rows live wholly
  inside its batch's shard, and every downstream consumer
  (``sparse_index_search``'s term join + (query, doc) aggregation,
  ``bm25_scores_from_index``'s dl/df/avgdl derivations) is a commutative
  aggregation over posting rows, so ANY sharding of the corpus into
  batches yields byte-identical search results.
- **replay idempotence**: re-appending an existing batch id rewrites its
  shard (the shard store's delete-first rule — no document's terms are
  double-counted).
- **append-only doc ids**: batches carry NEW documents.  A revised
  document is a delete + re-append of its batch (or a new index) — the
  same contract as the LSH band table.
- **deletes are tombstones** (r15): ``append_doc_tombstones`` marks docs
  deleted without touching sealed shards; the LOGICAL posting table
  (``read_term_index``) anti-joins them, so search scores AND the df/dl/
  avgdl statistics reflect the post-delete corpus; ``compact_term_index``
  removes the postings physically and spends the tombstones (in place) —
  the same lifecycle as ``vector_index.append_tombstones``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.partitioning import ensure_parallel_scan
from vector_graph_rag_spark.functions.text import tokens
from vector_graph_rag_spark.streaming import shards
# the store's public listing/tombstone readers ARE the shard store's
from vector_graph_rag_spark.streaming.shards import (
    list_batch_ids,
    list_tombstone_ids as list_doc_tombstone_ids,
    read_tombstones as read_doc_tombstones,
)


def append_term_batch(
    docs: DataFrame,
    index_dir: str,
    batch_id: int,
    text_col: str = "text",
) -> None:
    """Tokenize ONE batch and write its posting shard.  The only shuffle
    is the batch-local tf aggregation + the term-major repartition that
    co-locates each term's batch postings (bounded by BATCH tokens, never
    the accumulated corpus — the whole point).  The shard is the batch's
    commit marker in the shard store's commit order
    (``shards.write_batch``): a write that dies leaves no listed batch."""
    # a one-file micro-batch scans as one task and serializes the tokenize
    # map side; the tf groupBy re-parallelizes only after that scan
    docs = ensure_parallel_scan(docs)
    tf = (
        docs.select("doc_id", F.explode(tokens(text_col)).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    shards.write_batch(
        docs.sparkSession, batch_id, [(index_dir, lambda path: _write_postings(tf, path))]
    )


# declared beside the writer: readers never infer it, and a store with no
# listed batch reads as no rows
_POSTING_SCHEMA = "doc_id long, term string, w long"


def _write_postings(rows: DataFrame, path: str) -> None:
    """One posting shard of ``_POSTING_SCHEMA``, term-major (co-locates
    each term's postings)."""
    rows.select(
        F.col("doc_id").cast("long").alias("doc_id"), "term", "w"
    ).repartition(F.col("term")).write.mode("overwrite").parquet(path)


def append_doc_tombstones(
    ids: DataFrame, index_dir: str, batch_id: int, id_col: str = "doc_id"
) -> None:
    """Mark documents DELETED without touching sealed posting shards —
    the lexical sibling of ``vector_index.append_tombstones`` (takedown /
    right-to-be-forgotten): id-only shards under

        index_dir/tombstones/batch=<id>/part-*.parquet   (doc_id)

    with the shard store's replay contract.  The logical posting table
    (``read_term_index``) anti-joins them, so EVERY consumer — search
    scores, df/dl/avgdl statistics — sees the post-delete corpus;
    ``compact_term_index`` removes the postings physically and spends the
    tombstones."""
    shards.write_tombstones(ids, index_dir, batch_id, id_col, "doc_id")


def read_term_index(
    spark: SparkSession, index_dir: str, exclude_tombstoned: bool = True
) -> DataFrame:
    """The logical posting table across all batches — (doc_id, term, w),
    the one-shot schema consumers aggregate over.  The listed batch shards
    are read by EXPLICIT path with the declared schema
    (``shards.read_declared``): no schema-inference job, and a store with
    no listed batch reads as no rows.  Tombstoned documents are
    anti-joined out of the logical table by default, so downstream
    statistics (df, dl, avgdl) as well as scores reflect the post-delete
    corpus — the correctness property a BM25-style consumer needs from
    deletes."""
    return _postings(spark, index_dir, None, exclude_tombstoned)


def _postings(
    spark: SparkSession,
    index_dir: str,
    ids: list[int] | None,
    exclude_tombstoned: bool,
) -> DataFrame:
    rows = shards.read_declared(spark, index_dir, _POSTING_SCHEMA, ids)
    if exclude_tombstoned:
        rows = shards.drop_tombstoned(spark, index_dir, rows, "doc_id")
    return rows


def search_term_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    text_col: str = "text",
) -> DataFrame:
    """(query_id, doc_id, score, rank) over the incremental index — the
    same broadcast-postings join + map-side-combined (query, doc) dot
    product as ``sparse_index_search``; a term's posting list may span
    batch shards, and the aggregation merges them exactly."""
    from pyspark.sql import Window

    qtf = (
        queries.select(query_id, F.explode(tokens(text_col)).alias("term"))
        .groupBy(query_id, "term")
        .agg(F.count(F.lit(1)).alias("qw"))
    )
    w_rank = Window.partitionBy(query_id).orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        read_term_index(spark, index_dir)
        .join(F.broadcast(qtf), "term")
        .groupBy(query_id, "doc_id")
        .agg(F.sum(F.col("qw") * F.col("w")).alias("score"))
        .withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= k)
        .select(query_id, "doc_id", "score", "rank")
    )


def stream_index_documents(
    spark: SparkSession,
    docs_dir: str,
    index_dir: str,
    text_col: str = "text",
) -> int:
    """Stream parquet document files ``(doc_id long, text_col string)``
    from ``docs_dir`` into the posting index, one ``append_term_batch``
    shard per micro-batch (``shards.stream_batches``).  Returns the number
    of micro-batches processed."""

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        append_term_batch(batch_df, index_dir, batch_id, text_col=text_col)

    return shards.stream_batches(
        spark, docs_dir, f"doc_id long, {text_col} string", index_dir, _append
    )


def compact_term_index(
    spark: SparkSession, index_dir: str, out_dir: str, compacted_id: int = 0
) -> int:
    """Merge every posting shard into ONE compacted shard (the lexical
    sibling of ``vector_index.compact_index``): all (doc_id, term, w)
    rows rewritten term-major under ``out_dir/batch=<compacted_id>``.
    Pure I/O — postings are never re-tokenized, and batches are
    doc-disjoint by the append contract, so concatenation IS the merged
    index: a search of the compacted tree returns row-identical results.
    With ``out_dir != index_dir`` the source shards stay intact
    (publish-then-swap); in place, the source shards are dropped and the
    tombstones spent in the crash-safe order of ``shards.compact``.
    Doc tombstones are applied, so compaction is their PHYSICAL removal
    (the ``vector_index.compact_index`` semantic).  Returns the number of
    source batches merged.

    At 100 TB this bounds the files-per-term growth the nightly appends
    accumulate (a term's posting list spans every batch that saw it)."""
    return shards.compact(
        spark, index_dir, out_dir, compacted_id,
        lambda ids: _postings(spark, index_dir, ids, True), _write_postings,
    )

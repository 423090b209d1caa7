"""Persistent incremental IVF-PQ vector index — the nightly ANN path that
never re-encodes the corpus.

``operators/pq.write_ivfpq_index`` materializes the whole corpus's codes
in one shot; at 100 TB the corpus arrives nightly, and re-encoding (or
rewriting) the accumulated index per batch is the cost this module
removes.  Each batch's vectors are assigned + PQ-encoded ONCE and land in
a ``streaming/shards`` batch-shard tree, which owns the layout, replay
delete-first, tombstones beside shards and the drop-sources-then-spend
compaction order:

    index_dir/batch=<id>/cell_id=<c>/part-*.parquet   (vec_id, codes)
    index_dir/tombstones/batch=<id>/part-*.parquet    (vec_id)

Both levels are Hive partition columns, so a probe reads
``basePath=index_dir`` with a ``cell_id IN (probed)`` filter and Spark
prunes to the probed cells' files across ALL batches — probe cost stays
O(cells probed), independent of how many nightly appends built the index.

Invariants (test-pinned):
- **incremental == one-shot**: searching an index built by any sharding
  of the corpus into batches returns EXACTLY the rows of
  ``pq.ivfpq_search`` over ``pq.write_ivfpq_index`` of the full corpus —
  assignment and encoding are row-local against the same frozen
  centroids/codebooks, so shard boundaries cannot change any code.
- **replay idempotence**: re-appending an existing batch id rewrites it
  byte-compatibly (the shard store's delete-first rule).
- **frozen quantizers**: centroids and codebooks are TRAINING artifacts
  (sample-train, encode-all — the PQ deployment recipe); append never
  retrains, so old shards never go stale.  Re-training is a new index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.literals import inline_rows
from vector_graph_rag_spark.functions.partitioning import ensure_parallel_scan
from vector_graph_rag_spark.operators.pq import (
    Codebooks,
    adc_score,
    encode_pq_np,
    quantize_embeddings,
)
from vector_graph_rag_spark.streaming import shards
# the store's public listing/tombstone readers ARE the shard store's
from vector_graph_rag_spark.streaming.shards import (
    list_batch_ids,
    list_tombstone_ids,
    read_tombstones,
)


def append_to_index(
    batch: DataFrame,
    centroids: DataFrame | list,
    codebooks: Codebooks,
    index_dir: str,
    batch_id: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> None:
    """Assign + encode ONE batch against the frozen quantizers and write
    its shard.  Row-local work only (JVM centroid literals for the cell
    assignment, the bit-exact numpy twin for the PQ encode); the single
    shuffle is the salted cell repartition bounding files-per-cell (same
    rationale as ``pq.write_ivfpq_index``).  ``centroids`` may be the
    pre-collected row list (``ivf.collect_centroids``) — batch-append
    loops pass it so the bounded centroid scan job runs once per loop,
    not once per append."""
    from vector_graph_rag_spark.operators.ivf import assign_cells

    # a micro-batch arriving as one small file (the stream driver's
    # one-file trigger) scans as ONE task and serializes the encode/assign
    # work — measured 6x on the 10x smoke (37s vs 6.8s)
    batch = ensure_parallel_scan(batch)
    batch_dir = shards.batch_path(index_dir, batch_id)
    shards.clear(batch.sparkSession, batch_dir)

    # Bit-exact numpy encode (operators/pq.encode_pq_np): per-batch
    # encoding is the dominant cost of the ingest path at the 100x smoke
    # (the HOF form's n·M·K·SUB interpreted ops); codes are provably
    # identical, so shards stay byte-compatible with the literal form.
    #
    # SINGLE PASS (guide §2.4): cell assignment (row-local JVM argmax
    # against the broadcast centroid literal) runs first and rides the
    # Arrow encode as a passthrough column — the former two-derivation
    # form (encode one side, assign the other, equi-join on vec_id)
    # scanned the batch twice and paid a batch-sized join exchange to
    # re-unite columns split from the same rows.  emit_qv=False keeps the
    # quantized vectors out of the Python->JVM return batches (guide
    # §4.1) — the shard write needs only (vec_id, codes, cell_id).
    assigned = assign_cells(
        batch.select(corpus_id, corpus_vec).filter(
            F.col(corpus_vec).isNotNull()
        ),
        centroids,
        corpus_id=corpus_id,
        corpus_vec=corpus_vec,
    )
    q = quantize_embeddings(
        assigned, id_col=corpus_id, vec_col=corpus_vec, keep=("cell_id",)
    )
    enc = encode_pq_np(q, codebooks, passthrough=("cell_id",), emit_qv=False)
    _write_codes(enc, batch_dir)


def _write_codes(rows: DataFrame, path: str) -> None:
    """One code shard, partitionBy(cell_id) with the salted repartition
    bounding files-per-cell (same rationale as ``pq.write_ivfpq_index``)."""
    (
        rows.select("vec_id", "codes", "cell_id")
        .repartition(F.col("cell_id"), F.pmod(F.hash("vec_id"), F.lit(4)))
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(path)
    )


def append_tombstones(
    ids: DataFrame, index_dir: str, batch_id: int, id_col: str = "vec_id"
) -> None:
    """Mark vectors DELETED without touching their code shards — the
    Milvus delete story (delta/tombstone segments beside sealed segments):
    at 100 TB, rewriting a sealed shard to remove one vector is the cost
    deletes must avoid, so deletes land as id-only tombstone shards

        index_dir/tombstones/batch=<id>/part-*.parquet   (vec_id)

    under the shard store's replay contract.  Search anti-joins the
    tombstone set; ``compact_index`` is the physical-removal path (Milvus
    segment compaction applies deltas the same way)."""
    shards.write_tombstones(ids, index_dir, batch_id, id_col, "vec_id")


def search_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: Codebooks,
    k: int = 10,
    nprobe: int = 2,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    exclude_tombstoned: bool = True,
) -> DataFrame:
    """(query_id, vec_id, adc_dist, rank) over ONLY the probed cells' code
    files, across every appended batch.  Identical contract (and result
    rows) to ``pq.ivfpq_search`` over a one-shot index; the scan reads
    ``basePath=index_dir`` so batch and cell_id are both partition
    columns and the ``cell_id IN`` filter prunes inside every batch.

    Deletes: tombstoned ids (``append_tombstones``) are anti-joined out
    BEFORE ranking — a deleted vector must not displace a survivor from
    the top-k.  The anti-join keys on vec_id, so at scale Spark picks
    broadcast vs shuffled by tombstone-set stats; an index with no
    tombstones skips the join entirely (plan unchanged)."""
    from pyspark.sql import Window

    from vector_graph_rag_spark.functions.vector import cosine

    ids = list_batch_ids(spark, index_dir)
    if not ids:
        return inline_rows(
            spark, [], f"{query_id} long, vec_id long, adc_dist long, rank int"
        )
    queries = queries.filter(F.col(query_vec).isNotNull())
    w_probe = Window.partitionBy("vec_id").orderBy(
        F.desc("__cs"), F.asc("centroid_id")
    )
    # ONE bounded collect (|queries| x nprobe rows) carries both the probe
    # pairs and the quantized query vectors — the former two-collect form
    # launched two driver jobs per search for the same tiny data (guide
    # §5: driver round-trips are per-job overhead, not per-byte).
    probed = (
        quantize_embeddings(
            queries, id_col=query_id, vec_col=query_vec, keep=(query_vec,)
        )
        .crossJoin(F.broadcast(centroids))
        .withColumn("__cs", F.round(cosine(query_vec, "cvec"), 6))
        .withColumn("__rk", F.row_number().over(w_probe))
        .filter(F.col("__rk") <= nprobe)
        .select("vec_id", "centroid_id", "qv")
        .collect()
    )
    if not probed:
        # non-empty queries against an EMPTY centroid table: the one-pass
        # collect yields no probe rows AND no query vectors, and adc_score
        # over empty literal arrays fails analysis — the two-collect r16
        # form returned the empty result instead (ADVICE r17)
        return inline_rows(
            spark, [], f"{query_id} long, vec_id long, adc_dist long, rank int"
        )
    probed.sort(key=lambda r: (r["vec_id"], r["centroid_id"]))
    probe_rows = [
        {query_id: r["vec_id"], "centroid_id": r["centroid_id"]} for r in probed
    ]
    cells = sorted({r["centroid_id"] for r in probed})
    seen: dict[int, list[int]] = {}
    for r in probed:
        seen.setdefault(int(r["vec_id"]), list(r["qv"]))
    qvecs = sorted(seen.items())
    index = shards.read_batches(spark, index_dir, ids).filter(
        F.col("cell_id").isin(cells)
    )
    if exclude_tombstoned:
        index = shards.drop_tombstoned(spark, index_dir, index, "vec_id")
    pairs = inline_rows(
        spark,
        [(r[query_id], r["centroid_id"]) for r in probe_rows],
        f"{query_id} bigint, cell_id bigint",
    )
    w_rank = Window.partitionBy(query_id).orderBy(
        F.asc("adc_dist"), F.asc("vec_id")
    )
    return (
        index.join(F.broadcast(pairs), "cell_id")
        .withColumn(
            "adc_dist", adc_score(qvecs, codebooks, query_id_col=query_id)
        )
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select(query_id, "vec_id", "adc_dist", "rank")
    )


def stream_index_vectors(
    spark: SparkSession,
    vectors_dir: str,
    centroids: DataFrame,
    codebooks: Codebooks,
    index_dir: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> int:
    """Stream parquet vector files ``(corpus_id long, corpus_vec
    array<float>)`` from ``vectors_dir`` into the IVF-PQ index, one
    ``append_to_index`` shard per micro-batch (``shards.stream_batches``).
    Returns the number of micro-batches processed."""
    from vector_graph_rag_spark.operators.ivf import collect_centroids

    # one bounded centroid collect for the whole run — not one scan job
    # per micro-batch inside foreachBatch (measured: ~0.25s of each
    # micro-batch's fixed cost at sf0.1 was this repeated collect)
    if not isinstance(centroids, list):
        centroids = collect_centroids(centroids)

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        append_to_index(
            batch_df, centroids, codebooks, index_dir, batch_id,
            corpus_id=corpus_id, corpus_vec=corpus_vec,
        )

    return shards.stream_batches(
        spark, vectors_dir, f"{corpus_id} long, {corpus_vec} array<float>",
        index_dir, _append,
    )


def compact_index(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    compacted_id: int = 0,
    apply_tombstones: bool = True,
) -> int:
    """Merge every batch shard into ONE compacted shard tree (the Milvus
    segment-compaction analogue): all (vec_id, codes, cell_id) rows read
    across batches and rewritten as ``out_dir/batch=<compacted_id>``,
    partitionBy(cell_id) with the same salted files-per-cell bound the
    appends use.  CODES ONLY — raw vectors are never touched and nothing
    is re-encoded or re-assigned, so compaction is pure I/O: a probe of
    the compacted tree returns row-identical results to the sharded one
    (pinned by tests/test_vector_index.py and the ann_index_compacted
    hash gate).  With ``out_dir != index_dir`` the source index is left
    intact; the caller swaps directories once the compacted tree is
    verified — the same publish-then-swap discipline as the versioned
    store.  With ``out_dir == index_dir`` (the nightly-CLI flow) the
    source shards are dropped and the tombstones spent in the crash-safe
    order of ``shards.compact``.  Returns the number of source batches
    merged.

    At 100 TB compaction bounds the files-per-probe growth: a probe reads
    nprobe cells x n_batches shard files; nightly appends push n_batches
    up linearly until a compaction folds them back to one.

    Tombstones (``append_tombstones``) are applied PHYSICALLY here by
    default — the Milvus compaction semantic: delta segments fold into
    sealed segments, after which the deltas are gone.  The compacted tree
    carries no tombstones; a probe of it equals a tombstone-excluded probe
    of the source (pinned by tests/test_vector_index.py)."""

    def rows_of(ids: list[int]) -> DataFrame:
        rows = shards.read_batches(spark, index_dir, ids)
        if apply_tombstones:
            rows = shards.drop_tombstoned(spark, index_dir, rows, "vec_id")
        return rows

    return shards.compact(
        spark, index_dir, out_dir, compacted_id, rows_of, _write_codes,
        spend_tombstones=apply_tombstones,
    )

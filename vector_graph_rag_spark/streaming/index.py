"""Incremental graph indexing from a document stream.

The reference indexes incrementally through repeated ``add_documents``
calls (rag.py:279-356); the Spark-native twin is a Structured Streaming
file source driving the SAME batch upsert through ``foreachBatch`` —
each micro-batch of new documents merges into the stored graph with
``graph/crud.upsert_passages`` (dedup keys make the merge idempotent, so
at-least-once delivery is safe).  Streaming and batch indexing share one
code path; the test asserts stream-built == batch-built.

Scale: per micro-batch cost is proportional to the batch + the touched
keys, not the stored graph (join + anti-join merges); the catalog's
staging swap (``GraphCatalog.replace_graph``) keeps readers consistent.  On a cluster the sink
would be a Delta MERGE with the stream's checkpointLocation providing
exactly-once.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from vector_graph_rag_spark.graph.builder import build_graph, synthetic_triplet_docs
from vector_graph_rag_spark.graph.crud import upsert_passages
from vector_graph_rag_spark.sources.catalog import GraphCatalog
from vector_graph_rag_spark.sources.formats import DOCUMENTS_SCHEMA


def stream_index_documents(
    spark: SparkSession,
    docs_dir: str,
    graph_name: str,
    catalog: GraphCatalog,
    max_files_per_trigger: int = 1,
) -> int:
    """Stream parquet document files from ``docs_dir`` into the stored
    graph ``graph_name``, one upsert per micro-batch.  Returns the number
    of micro-batches processed.  Bounded run (``availableNow``) for
    tests/backfills; a live pipeline drops the trigger and adds a
    checkpointLocation.
    """
    n_batches = [0]

    def _merge(batch_df, batch_id: int) -> None:
        docs = synthetic_triplet_docs(batch_df)
        if catalog.exists(graph_name):
            tables = upsert_passages(catalog.read_graph(spark, graph_name), docs)
        else:
            tables = build_graph(docs)
        catalog.replace_graph(graph_name, tables)
        n_batches[0] += 1

    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_merge)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        if q.isActive:
            q.stop()
    return n_batches[0]

"""Batch-shard store — the one owner of the shard-tree format and its
lifecycle behind the incremental dedup, IVF-PQ and term indexes (the
Milvus sealed-segment / delete-delta / compaction lifecycle, PAPER.md
§1.2).  The stores decide WHAT a shard holds; this module decides where
it lives and how it is replaced, deleted and folded.

Layout:

    index_dir/batch=<id>/...               one sealed shard per batch id
    index_dir/tombstones/batch=<id>/...    id-only delete shards
    index_dir/_stream_checkpoint/          the stream driver's checkpoint

Contract (pinned by the store tests):

- **replay delete-first**: writing a shard for a batch id that already
  exists first PHYSICALLY deletes the old shard (:func:`clear`).  A
  metadata-only overwrite would let stale files resurface and
  double-count the batch, so a replayed batch id is exactly-once.
- **fails loudly, never "empty"**: every probe goes through the Hadoop
  FileSystem API (:func:`hadoop_fs`), so an object-store root behaves
  like a local one; a ``batch=`` directory whose id is not an integer
  raises (naming the path) instead of being skipped.
- **tombstones beside shards**: deletes land as id-only shards under
  ``tombstones/`` with the same replay contract; readers anti-join them
  (:func:`drop_tombstoned`) and sealed shards are never rewritten to
  remove a row.
- **publish-then-swap compaction** (:func:`compact`): every shard folds
  into ``out_dir/batch=<compacted_id>``.  With ``out_dir != index_dir``
  the source stays intact until the caller swaps directories.  In place,
  the compacted shard lands first, then the SOURCE shards are dropped,
  and only then are the tombstones spent.  A crash after the write
  leaves duplicates that the unspent tombstones still exclude; a crash
  after the drop leaves tombstones pointing at rows that no longer exist
  — a no-op anti-join, spent by the next compaction.  Spending first
  would leave tombstoned rows in source shards with no record left to
  exclude them.
- **stream driver** (:func:`stream_batches`): Structured Streaming's
  batch ids are unique under a checkpoint and a replay re-delivers the
  SAME id, which lands exactly on the replay contract — at-least-once
  delivery is safe.

A search plan is pinned to the files its scan discovered: materialize
outstanding reads before REPLAYING a batch id (appends of new ids are
safe — discovery happens at read time).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` — the only filesystem handle the
    shard stores use."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), hpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = hadoop_fs(spark, path)
    return fs.exists(hpath)


def clear(spark: SparkSession, path: str) -> bool:
    """Replay delete-first: recursively delete ``path`` if present.
    Returns whether anything was deleted."""
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return False
    fs.delete(hpath, True)
    return True


def batch_path(index_dir: str, batch_id: int) -> str:
    return os.path.join(index_dir, f"batch={batch_id}")


def tombstone_root(index_dir: str) -> str:
    return os.path.join(index_dir, "tombstones")


def list_batch_ids(spark: SparkSession, index_dir: str) -> list[int]:
    """Sorted batch ids of the ``batch=<id>`` directories under
    ``index_dir`` ([] when it does not exist)."""
    fs, root = hadoop_fs(spark, index_dir)
    if not fs.exists(root):
        return []
    ids = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch="):
            try:
                ids.append(int(name.split("=", 1)[1]))
            except ValueError:
                raise ValueError(
                    f"stray shard directory {st.getPath().toString()}: "
                    "batch id is not an integer"
                ) from None
    return sorted(ids)


def read_batches(spark: SparkSession, index_dir: str, ids: list[int]) -> DataFrame:
    """The given batch shards, read by EXPLICIT path under
    ``basePath=index_dir`` (so ``batch`` and any nested partition column
    are columns, and a ``tombstones/`` sibling never enters discovery)."""
    return spark.read.option("basePath", index_dir).parquet(
        *[batch_path(index_dir, i) for i in ids]
    )


def write_tombstones(
    ids: DataFrame, index_dir: str, batch_id: int, id_col: str, key: str
) -> None:
    """Write one tombstone shard of ``id_col`` values (stored as the
    long column ``key``), replacing any shard of the same id."""
    path = batch_path(tombstone_root(index_dir), batch_id)
    clear(ids.sparkSession, path)
    ids.select(F.col(id_col).cast("long").alias(key)).write.mode(
        "overwrite"
    ).parquet(path)


def list_tombstone_ids(spark: SparkSession, index_dir: str) -> list[int]:
    """Tombstone batch ids present under ``index_dir/tombstones``."""
    return list_batch_ids(spark, tombstone_root(index_dir))


def read_tombstones(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """The distinct union of all tombstone shards (None when none exist)."""
    ids = list_tombstone_ids(spark, index_dir)
    if not ids:
        return None
    troot = tombstone_root(index_dir)
    return spark.read.parquet(*[batch_path(troot, i) for i in ids]).distinct()


def drop_tombstoned(
    spark: SparkSession, index_dir: str, rows: DataFrame, key: str
) -> DataFrame:
    """``rows`` minus every tombstoned ``key`` (unchanged plan when the
    index has no tombstones)."""
    tombs = read_tombstones(spark, index_dir)
    return rows if tombs is None else rows.join(tombs, key, "left_anti")


def compact(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    compacted_id: int,
    rows_of: Callable[[list[int]], DataFrame],
    write: Callable[[DataFrame, str], None],
    spend_tombstones: bool = True,
) -> int:
    """Fold every batch shard into ``out_dir/batch=<compacted_id>``:
    ``write(rows_of(ids), path)`` with ``rows_of`` the store's logical
    rows over the source ids.  In place (``out_dir == index_dir``) the
    source shards are then dropped and, with ``spend_tombstones``, the
    tombstones spent — in that order (module docstring).  Returns the
    number of source batches merged."""
    ids = list_batch_ids(spark, index_dir)
    if not ids:
        return 0
    in_place = os.path.abspath(out_dir) == os.path.abspath(index_dir)
    if in_place and compacted_id in ids:
        raise ValueError(
            f"in-place compaction of {index_dir} into batch={compacted_id}: "
            "that batch is one of its own sources"
        )
    dest = batch_path(out_dir, compacted_id)
    rows = rows_of(ids)
    clear(spark, dest)
    write(rows, dest)
    if in_place:
        for i in ids:
            clear(spark, batch_path(index_dir, i))
        if spend_tombstones:
            clear(spark, tombstone_root(index_dir))
    return len(ids)


def stream_batches(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    index_dir: str,
    append: Callable[[DataFrame, int], None],
) -> int:
    """Stream the parquet files of ``source_dir`` (one file per
    micro-batch) through ``append(batch_df, batch_id)``, checkpointed
    under ``index_dir/_stream_checkpoint``.  Returns the number of
    non-empty micro-batches.  Bounded run (``availableNow``) for tests /
    backfills; a live pipeline drops the trigger and keeps the
    checkpoint."""
    n_batches = [0]

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append(batch_df, int(batch_id))
        n_batches[0] += 1

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .writeStream.foreachBatch(_append)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(index_dir, "_stream_checkpoint"))
        .start()
    )
    q.awaitTermination()
    return n_batches[0]

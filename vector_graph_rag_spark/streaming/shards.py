"""Batch-shard store — the one owner of the shard-tree format and its
lifecycle behind the incremental dedup, IVF-PQ and term indexes and the
LM-count, corpus-stats and frequency sketch registers (the Milvus
sealed-segment / delete-delta / compaction lifecycle, PAPER.md §1.2).
The stores decide WHAT a shard holds; this module decides where it
lives and how it is written, replaced, deleted and folded.

Layout:

    index_dir/batch=<id>/...               one sealed shard per batch id
    index_dir/_staging/batch=<id>/...      a commit marker being written
    index_dir/tombstones/batch=<id>/...    id-only delete shards
    index_dir/_stream_checkpoint/          the stream driver's checkpoint

Contract (pinned by the store tests):

- **replay delete-first**: writing a shard for a batch id that already
  exists first PHYSICALLY deletes the old shard (:func:`clear`).  A
  metadata-only overwrite would let stale files resurface and
  double-count the batch, so a replayed batch id is exactly-once.
- **one commit order** (:func:`write_batch`): a batch whose rows span
  several shard trees has ONE commit marker, the shard the store lists.
  The marker is cleared first, the other shards are replaced, and the
  marker is written last — staged under ``_staging/`` and renamed into
  place, so a listed marker is always a complete one.  Readers read
  only the listed ids, so a write of a new id that dies at any step
  leaves the before-state, a dying replay leaves its batch unlisted,
  and replaying the id again converges to the one-shot result.
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


def read_declared(
    spark: SparkSession, index_dir: str, schema: str, ids: list[int] | None = None
) -> DataFrame:
    """The data columns of the given batch shards (every listed batch when
    ``ids`` is None), read with the store's DECLARED schema: a shard
    directory a dead write left empty reads as no rows, and an empty
    store as an empty frame rather than a schema-inference error."""
    if ids is None:
        ids = list_batch_ids(spark, index_dir)
    return spark.read.schema(schema).parquet(
        *[batch_path(index_dir, i) for i in ids]
    )


def write_batch(
    spark: SparkSession,
    batch_id: int,
    writes: list[tuple[str, Callable[[str], None]]],
) -> None:
    """Write batch ``batch_id`` in the commit order (module docstring).
    ``writes`` holds one ``(root, write)`` per shard tree, ``write(path)``
    writing that tree's shard at ``path``; the LAST entry is the commit
    marker, the tree whose listing the store reads."""
    *parts, (marker_root, write_marker) = writes
    marker = batch_path(marker_root, batch_id)
    staged = batch_path(os.path.join(marker_root, "_staging"), batch_id)
    clear(spark, marker)
    for root, write in parts:
        path = batch_path(root, batch_id)
        clear(spark, path)
        write(path)
    clear(spark, staged)
    write_marker(staged)
    fs, src = hadoop_fs(spark, staged)
    if not fs.rename(src, hadoop_fs(spark, marker)[1]):
        raise OSError(f"could not publish {staged} as {marker}")


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

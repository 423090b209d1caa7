"""Batch-shard store (streaming/shards.py) — the rules every store built
on it shares: a stray ``batch=`` directory fails loudly in each store's
listing, and in-place compaction refuses to fold a tree into one of its
own source batch ids."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.mark.parametrize("store", ["dedup_index", "vector_index", "term_index"])
def test_stray_batch_dir_fails_loudly(spark, tmp_path, store):
    import importlib

    mod = importlib.import_module(f"vector_graph_rag_spark.streaming.{store}")
    root = tmp_path / "idx"
    os.makedirs(root / "batch=0")
    os.makedirs(root / "tombstones")  # non-batch siblings are not shards
    assert mod.list_batch_ids(spark, str(root)) == [0]
    os.makedirs(root / "batch=x")
    with pytest.raises(ValueError, match="batch=x"):
        mod.list_batch_ids(spark, str(root))


def test_inplace_compaction_into_own_source_id_is_refused(spark, tmp_path):
    from vector_graph_rag_spark.streaming.term_index import (
        append_term_batch,
        compact_term_index,
        list_batch_ids,
        read_term_index,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "gamma delta")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    for b in range(2):
        append_term_batch(docs.filter(F.col("doc_id") % 2 == b), idx, batch_id=b)
    before = sorted(map(tuple, read_term_index(spark, idx).collect()))
    with pytest.raises(ValueError, match="batch=1"):
        compact_term_index(spark, idx, idx, compacted_id=1)
    # refused before any delete: the tree is untouched
    assert list_batch_ids(spark, idx) == [0, 1]
    assert sorted(map(tuple, read_term_index(spark, idx).collect())) == before

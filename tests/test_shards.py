"""Batch-shard store (streaming/shards.py) — the rules every store built
on it shares: a stray ``batch=`` directory fails loudly in each store's
listing, a write that dies at any step leaves every reader's before-state
and replaying its batch id converges, and in-place compaction refuses to
fold a tree into one of its own source batch ids."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from vector_graph_rag_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"

# where a store's listed (commit-marker) shards live under its state dir
_LISTING_SUBDIR = {"lm_counts": "uni"}


@pytest.mark.parametrize(
    "store",
    [
        "dedup_index",
        "vector_index",
        "term_index",
        "lm_counts",
        "corpus_stats",
        "freq_sketch",
    ],
)
def test_stray_batch_dir_fails_loudly(spark, tmp_path, store):
    import importlib

    mod = importlib.import_module(f"vector_graph_rag_spark.streaming.{store}")
    state = tmp_path / "idx"
    root = state / _LISTING_SUBDIR.get(store, "")
    os.makedirs(root / "batch=0")
    os.makedirs(root / "tombstones")  # non-batch siblings are not shards
    assert mod.list_batch_ids(spark, str(state)) == [0]
    os.makedirs(root / "batch=x")
    with pytest.raises(ValueError, match="batch=x"):
        mod.list_batch_ids(spark, str(state))


def _store_case(spark, store):
    """(write(state, batch_id), read(state)) for one store over a 3-way
    doc_id sharding of the smoke corpus; ``read`` collects every reader
    of the store into plain values."""
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    batch = lambda b: docs.filter(F.col("doc_id") % 3 == b)
    rows = lambda df: sorted(map(tuple, df.collect()))
    if store == "dedup_index":
        from vector_graph_rag_spark.streaming.dedup_index import (
            append_to_index,
            batch_signatures,
            probe_index,
        )

        sigs = [batch_signatures(batch(b)).localCheckpoint(eager=True) for b in range(3)]
        everything = batch_signatures(docs).localCheckpoint(eager=True)
        return (
            lambda state, b: append_to_index(sigs[b], state, b),
            lambda state: {
                tuple(sorted((r["index_doc_id"], r["new_doc_id"]))): round(r["est_jaccard"], 9)
                for r in probe_index(spark, state, everything).collect()
            },
        )
    if store == "term_index":
        from vector_graph_rag_spark.streaming.term_index import (
            append_term_batch,
            read_term_index,
            search_term_index,
        )

        queries = docs.filter(F.col("doc_id") % 7 == 0).select(
            F.col("doc_id").alias("query_id"), "text"
        )
        return (
            lambda state, b: append_term_batch(batch(b), state, b),
            lambda state: (
                rows(read_term_index(spark, state)),
                rows(search_term_index(spark, state, queries, k=5)),
            ),
        )
    if store == "lm_counts":
        from vector_graph_rag_spark.streaming.lm_counts import (
            lm_from_counts,
            write_batch_counts,
        )

        def read(state):
            m = lm_from_counts(spark, state)
            return m["total_tokens"], m["vocab_size"], rows(m["uni"]), rows(m["bi"])

        return lambda state, b: write_batch_counts(batch(b), state, b), read
    if store == "corpus_stats":
        from vector_graph_rag_spark.streaming.corpus_stats import (
            corpus_stats,
            write_batch_stats,
        )

        cols = ["doc_id", "source", "text"]
        return (
            lambda state, b: write_batch_stats(batch(b), state, b, cols),
            lambda state: rows(corpus_stats(spark, state)),
        )
    if store == "quantiles":
        from vector_graph_rag_spark.streaming.corpus_stats import (
            corpus_quantiles,
            write_batch_quantiles,
        )

        return (
            lambda state, b: write_batch_quantiles(batch(b), state, b, ["n_chars"]),
            lambda state: rows(corpus_quantiles(spark, state)),
        )
    from vector_graph_rag_spark.streaming.freq_sketch import (
        cm_counters,
        corpus_heavy_hitters,
        write_batch_freq,
    )

    return (
        lambda state, b: write_batch_freq(batch(b), state, b, ["source"]),
        lambda state: (
            rows(cm_counters(spark, state)),
            rows(corpus_heavy_hitters(spark, state)),
        ),
    )


@pytest.mark.parametrize(
    "store, fail_at",
    [
        pytest.param("dedup_index", os.path.join("bands", "batch=2"), id="dedup_index-bands"),
        pytest.param("dedup_index", os.path.join("batch=2", "sigs"), id="dedup_index-sigs"),
        pytest.param("lm_counts", f"{os.sep}uni{os.sep}", id="lm_counts-uni"),
        pytest.param("lm_counts", f"{os.sep}bi{os.sep}", id="lm_counts-bi"),
        pytest.param("corpus_stats", "batch=2", id="corpus_stats"),
        pytest.param("quantiles", "batch=2", id="quantiles"),
        pytest.param("freq_sketch", "batch=2", id="freq_sketch"),
        pytest.param("term_index", "batch=2", id="term_index"),
    ],
)
def test_failed_append_is_invisible_and_replay_converges(
    spark, tmp_path, monkeypatch, store, fail_at
):
    """A batch is visible to a store's readers only once all of its shards
    exist.  A write that dies at any of the batch's parquet writes (the
    dead write leaves its output directory empty, as an aborted Spark
    write job does) leaves every reader's before-state, and replaying the
    batch id then gives the result of writing every batch cleanly."""
    from pyspark.sql.readwriter import DataFrameWriter

    write, read = _store_case(spark, store)
    state = str(tmp_path / "state")
    for b in range(2):
        write(state, b)
    before = read(state)
    assert before

    real_parquet = DataFrameWriter.parquet

    def dying_parquet(self, path, *args, **kwargs):
        if fail_at in path:
            os.makedirs(path)
            raise RuntimeError(f"injected failure writing {path}")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", dying_parquet)
    with pytest.raises(RuntimeError, match="injected"):
        write(state, 2)
    monkeypatch.undo()
    assert read(state) == before

    write(state, 2)  # replay the failed batch id
    clean = str(tmp_path / "clean")
    for b in range(3):
        write(clean, b)
    assert read(state) == read(clean)


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

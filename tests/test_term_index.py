"""Incremental inverted term index (streaming/term_index.py) — the shard
contract the oracle gate can't see: sharding-invariance across DIFFERENT
batch splits, and replay with CHANGED content (the registered
term_index_incremental replays identical bytes; overwrite semantics only
show when the replayed batch differs)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_incremental_equals_one_shot_under_any_sharding(spark, tmp_path):
    """Search over an index built as 2 batches and as 4 batches must equal
    the one-shot write_term_index search exactly — posting rows are
    disjoint by doc, every consumer aggregates commutatively."""
    from vector_graph_rag_spark.queries.search_api import (
        sparse_index_search,
        write_term_index,
    )
    from vector_graph_rag_spark.sources.tables import load_table
    from vector_graph_rag_spark.streaming.term_index import (
        append_term_batch,
        search_term_index,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    queries = d.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    oneshot = str(tmp_path / "oneshot")
    write_term_index(d, oneshot)
    want = _rows(sparse_index_search(spark, oneshot, queries, k=10))
    assert want, "expected non-empty search results"

    for label, mod in (("two", 2), ("four", 4)):
        inc = str(tmp_path / f"inc_{label}")
        for b in range(mod):
            append_term_batch(d.filter(F.col("doc_id") % mod == b), inc, batch_id=b)
        got = _rows(search_term_index(spark, inc, queries, k=10))
        assert got == want, f"{mod}-batch sharding diverged from one-shot"


def test_replay_with_changed_content_overwrites_not_doubles(spark, tmp_path):
    """Replaying a batch id with DIFFERENT documents must physically drop
    the stale shard: the index afterwards equals a fresh build from the
    new content — a metadata-only overwrite would double-count the old
    postings."""
    from vector_graph_rag_spark.streaming.term_index import (
        append_term_batch,
        list_batch_ids,
        read_term_index,
    )

    old = spark.createDataFrame(
        [(1, "alpha alpha beta"), (2, "gamma")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(3, "delta delta delta")], "doc_id long, text string"
    )
    keep = spark.createDataFrame([(9, "omega")], "doc_id long, text string")
    idx = str(tmp_path / "idx")
    append_term_batch(keep, idx, batch_id=0)
    append_term_batch(old, idx, batch_id=1)
    append_term_batch(new, idx, batch_id=1)  # replay with different docs

    fresh = str(tmp_path / "fresh")
    append_term_batch(keep, fresh, batch_id=0)
    append_term_batch(new, fresh, batch_id=1)

    assert list_batch_ids(spark, idx) == [0, 1]
    assert _rows(read_term_index(spark, idx)) == _rows(read_term_index(spark, fresh))
    # the stale batch's postings are fully gone
    terms = {r["term"] for r in read_term_index(spark, idx).collect()}
    assert terms == {"delta", "omega"}


def test_bm25_from_incremental_index_matches_tokenizing(spark, tmp_path):
    """bm25_scores_from_index consumes the incremental shard tree as-is
    (partition-discovered batch column dropped by the posting projection):
    scores equal the tokenizing bm25_scores over the same corpus."""
    from vector_graph_rag_spark.queries.ranking import (
        _BM25_QUERIES,
        bm25_scores,
        bm25_scores_from_index,
    )
    from vector_graph_rag_spark.sources.tables import load_table
    from vector_graph_rag_spark.streaming.term_index import append_term_batch

    d = load_table(spark, SF_SMOKE, "documents")
    idx = str(tmp_path / "idx")
    for b in range(3):
        append_term_batch(d.filter(F.col("doc_id") % 3 == b), idx, batch_id=b)
    want = _rows(bm25_scores(spark, SF_SMOKE, _BM25_QUERIES))
    got = _rows(bm25_scores_from_index(spark, idx, _BM25_QUERIES))
    assert got == want and want


def test_list_batch_ids_missing_dir_is_empty(spark, tmp_path):
    from vector_graph_rag_spark.streaming.term_index import list_batch_ids

    assert list_batch_ids(spark, str(tmp_path / "nope")) == []


def test_first_append_that_dies_leaves_an_empty_index(spark, tmp_path, monkeypatch):
    """A first append whose parquet write dies (leaving its output
    directory empty, as an aborted Spark write job does) lists no batch,
    and a search returns the empty before-state instead of failing to
    infer a schema from the empty shard."""
    from pyspark.sql.readwriter import DataFrameWriter

    from vector_graph_rag_spark.streaming.term_index import (
        append_term_batch,
        list_batch_ids,
        search_term_index,
    )

    docs = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    idx = str(tmp_path / "idx")

    def dying_parquet(self, path, *args, **kwargs):
        os.makedirs(path)
        raise RuntimeError(f"injected failure writing {path}")

    monkeypatch.setattr(DataFrameWriter, "parquet", dying_parquet)
    with pytest.raises(RuntimeError, match="injected"):
        append_term_batch(docs, idx, batch_id=0)
    monkeypatch.undo()
    assert list_batch_ids(spark, idx) == []
    queries = docs.select(F.col("doc_id").alias("query_id"), "text")
    assert search_term_index(spark, idx, queries, k=3).collect() == []


def test_stream_built_term_index_equals_batch_built(spark, tmp_path):
    """A file-source stream driving append_term_batch per micro-batch
    builds a posting index that searches identically to the one-shot
    write_term_index build (stream == incremental == batch)."""
    import os

    from vector_graph_rag_spark.queries.search_api import (
        sparse_index_search,
        write_term_index,
    )
    from vector_graph_rag_spark.sources.tables import load_table
    from vector_graph_rag_spark.streaming.term_index import (
        list_batch_ids,
        search_term_index,
        stream_index_documents,
    )

    import glob
    import shutil

    d = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    staged = str(tmp_path / "doc_staged")
    # two files -> two micro-batches at maxFilesPerTrigger=1; the file
    # stream wants part files directly under its path, so flatten
    d.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(staged, "f0")
    )
    d.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(staged, "f1")
    )
    flat = str(tmp_path / "doc_files")
    os.makedirs(flat)
    for i, f in enumerate(sorted(glob.glob(os.path.join(staged, "*", "*.parquet")))):
        shutil.copy(f, os.path.join(flat, f"part-{i}.parquet"))
    inc = str(tmp_path / "streamed")
    n = stream_index_documents(spark, flat, inc)
    assert n >= 1 and list_batch_ids(spark, inc) != []

    queries = d.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    got = _rows(search_term_index(spark, inc, queries, k=10))
    oneshot = str(tmp_path / "oneshot")
    write_term_index(d, oneshot)
    assert got == _rows(sparse_index_search(spark, oneshot, queries, k=10))


def test_compact_term_index_search_identical_and_source_intact(spark, tmp_path):
    """compact_term_index: searching the compacted shard returns
    row-identical results, posting rows are moved once each, and the
    sharded source survives (publish-then-swap)."""
    from pyspark.sql import functions as F

    from vector_graph_rag_spark.sources.tables import load_table
    from vector_graph_rag_spark.streaming.term_index import (
        append_term_batch,
        compact_term_index,
        list_batch_ids,
        read_term_index,
        search_term_index,
    )

    d = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )
    queries = d.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    sharded = str(tmp_path / "sharded")
    compacted = str(tmp_path / "compacted")
    for b in range(3):
        append_term_batch(d.filter(F.col("doc_id") % 3 == b), sharded, batch_id=b)

    def rows(idx):
        return sorted(
            map(tuple, search_term_index(spark, idx, queries, k=10).collect())
        )

    before = rows(sharded)
    assert compact_term_index(spark, sharded, compacted) == 3
    assert list_batch_ids(spark, compacted) == [0]
    assert rows(compacted) == before
    assert list_batch_ids(spark, sharded) == [0, 1, 2]
    # posting rows preserved exactly (concatenation, no re-aggregation)
    assert (
        read_term_index(spark, compacted).count()
        == read_term_index(spark, sharded).count()
    )


def test_doc_tombstone_delete_lifecycle(spark, tmp_path):
    """The lexical delete story (r15): (1) a tombstone-excluded search
    equals a search over an index that never contained the deleted docs
    (they VACATE ranks, survivors move up); (2) the LOGICAL posting table
    excludes tombstoned docs, so df/dl-style statistics see the
    post-delete corpus; (3) tombstone replay is idempotent; (4) in-place
    compaction removes postings physically AND spends the tombstones,
    re-opening the ids."""
    import os

    from vector_graph_rag_spark.sources.tables import load_table
    from vector_graph_rag_spark.streaming.term_index import (
        append_doc_tombstones,
        append_term_batch,
        compact_term_index,
        list_batch_ids,
        read_doc_tombstones,
        read_term_index,
        search_term_index,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    queries = d.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    dels = d.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    survivors = d.filter(F.col("doc_id") % 7 != 0)

    # reference: an index that never saw the deleted docs
    clean = str(tmp_path / "clean")
    append_term_batch(survivors, clean, batch_id=0)
    want = _rows(search_term_index(spark, clean, queries, k=10))
    assert want

    # full index + tombstones (two delete shards, shard 0 replayed)
    full = str(tmp_path / "full")
    for b in range(2):
        append_term_batch(d.filter(F.col("doc_id") % 2 == b), full, batch_id=b)
    half0 = dels.filter((F.col("doc_id") / 7).cast("long") % 2 == 0)
    half1 = dels.filter((F.col("doc_id") / 7).cast("long") % 2 == 1)
    append_doc_tombstones(half0, full, 0)
    append_doc_tombstones(half1, full, 1)
    append_doc_tombstones(half0, full, 0)  # replay
    assert read_doc_tombstones(spark, full).count() == dels.count()

    got = _rows(search_term_index(spark, full, queries, k=10))
    assert got == want  # deleted docs vacated, survivors moved up
    # the logical table carries zero postings for tombstoned docs
    assert (
        read_term_index(spark, full).filter(F.col("doc_id") % 7 == 0).count() == 0
    )
    # ... but the raw shards still do (exclusion is logical until compaction)
    assert (
        read_term_index(spark, full, exclude_tombstoned=False)
        .filter(F.col("doc_id") % 7 == 0)
        .count()
        > 0
    )

    # in-place compaction: postings physically gone, tombstones spent,
    # and the SOURCE shards dropped by compact_term_index itself (before
    # the spend — the crash-safe ordering, r15 ADVICE; no caller cleanup)
    n = compact_term_index(spark, full, full, compacted_id=2)
    assert n == 2
    assert list_batch_ids(spark, full) == [2]
    assert read_doc_tombstones(spark, full) is None  # spent
    raw = read_term_index(spark, full, exclude_tombstoned=False)
    assert raw.filter(F.col("doc_id") % 7 == 0).count() == 0
    assert _rows(search_term_index(spark, full, queries, k=10)) == want


def test_inplace_term_compaction_delete_ordering(spark, tmp_path, monkeypatch):
    """r15 ADVICE regression, lexical sibling: in-place compaction drops
    the source posting shards BEFORE spending the doc tombstones — a
    crash between the two leaves a harmless no-op tombstone set, never
    tombstoned postings with the record already spent."""
    import vector_graph_rag_spark.streaming.term_index as TI
    import vector_graph_rag_spark.streaming.shards as S
    from vector_graph_rag_spark.sources.tables import load_table
    from vector_graph_rag_spark.streaming.term_index import (
        append_doc_tombstones,
        append_term_batch,
        list_batch_ids,
        read_doc_tombstones,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    idx = str(tmp_path / "idx")
    for b in range(2):
        append_term_batch(d.filter(F.col("doc_id") % 2 == b), idx, batch_id=b)
    append_doc_tombstones(
        d.filter(F.col("doc_id") % 7 == 0).select("doc_id"), idx, 0
    )

    deletes: list[str] = []
    real_fs = S.hadoop_fs

    class _RecFS:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):  # delegate listStatus etc.
            return getattr(self._fs, name)

        def delete(self, p, recursive=True):
            deletes.append(str(p))
            return self._fs.delete(p, recursive)

    def rec_fs(s, path):
        fs, p = real_fs(s, path)
        return _RecFS(fs), p

    monkeypatch.setattr(S, "hadoop_fs", rec_fs)
    assert TI.compact_term_index(spark, idx, idx, compacted_id=2) == 2
    monkeypatch.undo()

    src = [
        i
        for i, p in enumerate(deletes)
        if "tombstones" not in p
        and (p.rstrip("/").endswith("batch=0") or p.rstrip("/").endswith("batch=1"))
    ]
    tomb = [i for i, p in enumerate(deletes) if "tombstones" in p]
    assert len(src) == 2 and len(tomb) == 1
    assert max(src) < min(tomb)  # sources dropped first, spend last
    assert list_batch_ids(spark, idx) == [2]
    assert read_doc_tombstones(spark, idx) is None

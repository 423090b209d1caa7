"""Incremental IVF-PQ vector index (streaming/vector_index.py) — the
invariants the module docstring promises: incremental == one-shot, replay
idempotence, partition pruning across batches, empty-index contract."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from vector_graph_rag_spark.operators.pq import (
    ivfpq_search,
    quantize_embeddings,
    train_pq_codebooks,
    write_ivfpq_index,
)
from vector_graph_rag_spark.sources.tables import load_table
from vector_graph_rag_spark.streaming.vector_index import (
    append_to_index,
    list_batch_ids,
    search_index,
)


def _fixture(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    books = train_pq_codebooks(quantize_embeddings(emb), updates=1)
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    queries = emb.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 105)
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    return emb, books, cent, queries


def test_incremental_equals_oneshot_across_shardings(spark, tmp_path):
    """Any sharding of the corpus into batches searches identically to the
    one-shot write_ivfpq_index — the defining contract."""
    emb, books, cent, queries = _fixture(spark)
    oneshot = str(tmp_path / "oneshot")
    write_ivfpq_index(emb, cent, books, oneshot)
    expected = sorted(
        map(tuple, ivfpq_search(spark, oneshot, queries, cent, books).collect())
    )

    for shards, sub in ((2, "inc2"), (3, "inc3")):
        inc = str(tmp_path / sub)
        for b in range(shards):
            append_to_index(
                emb.filter(F.col("vec_id") % shards == b), cent, books, inc, b
            )
        assert list_batch_ids(spark, inc) == list(range(shards))
        got = sorted(
            map(tuple, search_index(spark, inc, queries, cent, books).collect())
        )
        assert got == expected, f"sharding {shards} diverged"


def test_replay_overwrites_batch_shard(spark, tmp_path):
    """Re-appending an existing batch id replaces that shard: appending
    batch 0 with WRONG rows then replaying it with the right ones must
    search identically to a clean build."""
    emb, books, cent, queries = _fixture(spark)
    inc = str(tmp_path / "inc")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    # wrong first delivery of batch 0 (half_b's rows), then the fix
    append_to_index(half_b, cent, books, inc, 0)
    append_to_index(half_a, cent, books, inc, 0)  # replay overwrites
    append_to_index(half_b, cent, books, inc, 1)
    assert list_batch_ids(spark, inc) == [0, 1]
    got = sorted(
        map(tuple, search_index(spark, inc, queries, cent, books).collect())
    )
    oneshot = str(tmp_path / "oneshot")
    write_ivfpq_index(emb, cent, books, oneshot)
    expected = sorted(
        map(tuple, ivfpq_search(spark, oneshot, queries, cent, books).collect())
    )
    assert got == expected
    # no duplicate vec_ids leaked from the stale shard
    all_ids = [r["vec_id"] for r in spark.read.option("basePath", inc).parquet(
        os.path.join(inc, "batch=0"), os.path.join(inc, "batch=1")
    ).select("vec_id").collect()]
    assert len(all_ids) == len(set(all_ids))


def test_search_plan_prunes_cells_across_batches(spark, tmp_path):
    import re

    emb, books, cent, queries = _fixture(spark)
    inc = str(tmp_path / "inc")
    append_to_index(emb.filter(F.col("vec_id") % 2 == 0), cent, books, inc, 0)
    append_to_index(emb.filter(F.col("vec_id") % 2 == 1), cent, books, inc, 1)
    res = search_index(spark, inc, queries, cent, books)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*cell_id[^\]]*IN", plan), plan[:800]


def test_empty_index_and_null_query(spark, tmp_path):
    emb, books, cent, queries = _fixture(spark)
    inc = str(tmp_path / "never_written")
    assert list_batch_ids(spark, inc) == []
    assert search_index(spark, inc, queries, cent, books).count() == 0
    # NULL-embedding query skipped, not fatal (the ivfpq_search contract)
    inc2 = str(tmp_path / "inc2")
    append_to_index(emb, cent, books, inc2, 0)
    bad = spark.createDataFrame([(999999,)], "query_id long").withColumn(
        "qvec", F.lit(None).cast(queries.schema["qvec"].dataType)
    )
    mixed = search_index(
        spark, inc2, queries.unionByName(bad), cent, books
    ).collect()
    assert not any(r["query_id"] == 999999 for r in mixed)


def test_stream_built_index_equals_batch_built(spark, tmp_path):
    """streaming/index.py pattern for vectors: a file-source stream driving
    append_to_index per micro-batch builds an index that searches
    identically to the one-shot batch build."""
    from vector_graph_rag_spark.streaming.vector_index import stream_index_vectors

    emb, books, cent, queries = _fixture(spark)
    vdir = str(tmp_path / "vec_files")
    # two separate files -> two micro-batches at maxFilesPerTrigger=1
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(vdir, "f0")
    )
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(vdir, "f1")
    )
    import glob
    import shutil

    flat = str(tmp_path / "vec_flat")
    os.makedirs(flat)
    for i, f in enumerate(
        sorted(glob.glob(os.path.join(vdir, "*", "*.parquet")))
    ):
        shutil.copy(f, os.path.join(flat, f"part-{i}.parquet"))

    inc = str(tmp_path / "streamed")
    n = stream_index_vectors(spark, flat, cent, books, inc)
    assert n >= 1 and list_batch_ids(spark, inc) != []
    got = sorted(
        map(tuple, search_index(spark, inc, queries, cent, books).collect())
    )
    oneshot = str(tmp_path / "oneshot")
    write_ivfpq_index(emb, cent, books, oneshot)
    expected = sorted(
        map(tuple, ivfpq_search(spark, oneshot, queries, cent, books).collect())
    )
    assert got == expected


def test_compact_index_search_identical_and_source_intact(spark, tmp_path):
    """compact_index: probing the compacted tree returns row-identical
    results to the sharded tree, the source shards stay untouched
    (publish-then-swap), and re-compaction overwrites idempotently."""
    import os

    from pyspark.sql import functions as F

    from vector_graph_rag_spark.queries.pipeline import _pq_quantized_and_books
    from vector_graph_rag_spark.sources.tables import load_table
    from vector_graph_rag_spark.streaming.vector_index import (
        append_to_index,
        compact_index,
        list_batch_ids,
        search_index,
    )

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    _q, books = _pq_quantized_and_books(spark, sf)
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    sharded = str(tmp_path / "sharded")
    compacted = str(tmp_path / "compacted")
    for b in range(3):
        append_to_index(emb.filter(F.col("vec_id") % 3 == b), cent, books, sharded, b)

    def rows(idx):
        return sorted(
            map(tuple, search_index(spark, idx, queries, cent, books, k=10).collect())
        )

    before = rows(sharded)
    assert compact_index(spark, sharded, compacted) == 3
    assert list_batch_ids(spark, compacted) == [0]
    assert rows(compacted) == before
    # source untouched — all three shards still present and searchable
    assert list_batch_ids(spark, sharded) == [0, 1, 2]
    assert rows(sharded) == before
    # replay-idempotent: compacting again overwrites, results unchanged
    assert compact_index(spark, sharded, compacted) == 3
    assert rows(compacted) == before
    # the compacted tree holds exactly the corpus's code rows, once each
    n_corpus = emb.filter(F.col("embedding").isNotNull()).count()
    n_comp = spark.read.option("basePath", compacted).parquet(
        os.path.join(compacted, "batch=0")
    ).count()
    assert n_comp == n_corpus


def test_tombstone_delete_contracts(spark, tmp_path):
    """The delete story end-to-end: (1) a tombstone-excluded search equals
    a search over an index that never contained the deleted ids (deleted
    vectors VACATE top-k slots); (2) tombstone replay is idempotent;
    (3) an index with no tombstones is untouched (exclude_tombstoned=True
    is a no-op); (4) compaction applies tombstones PHYSICALLY and the
    compacted tree carries none."""
    from vector_graph_rag_spark.streaming.vector_index import (
        append_tombstones,
        compact_index,
        read_tombstones,
    )

    emb, books, cent, queries = _fixture(spark)
    dels = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    survivors = emb.filter(F.col("vec_id") % 7 != 0)

    # reference: an index built from the surviving corpus only
    clean = str(tmp_path / "clean")
    append_to_index(survivors, cent, books, clean, 0)
    expected = sorted(
        map(tuple, search_index(spark, clean, queries, cent, books).collect())
    )

    # full index + tombstones (two delete batches, batch 0 replayed)
    full = str(tmp_path / "full")
    for b in range(2):
        append_to_index(emb.filter(F.col("vec_id") % 2 == b), cent, books, full, b)
    half0 = dels.filter((F.col("vec_id") / 7).cast("long") % 2 == 0)
    half1 = dels.filter((F.col("vec_id") / 7).cast("long") % 2 == 1)
    append_tombstones(half0, full, 0)
    append_tombstones(half1, full, 1)
    append_tombstones(half0, full, 0)  # replay
    assert read_tombstones(spark, full).count() == dels.count()

    got = sorted(
        map(tuple, search_index(spark, full, queries, cent, books).collect())
    )
    assert got == expected  # deleted ids vacated, survivors moved up
    assert not any(r[1] % 7 == 0 for r in got)

    # exclude_tombstoned=False still sees the deleted candidates
    raw = search_index(
        spark, full, queries, cent, books, exclude_tombstoned=False
    ).collect()
    assert any(r["vec_id"] % 7 == 0 for r in raw)

    # no tombstones → read_tombstones None, search unaffected
    assert read_tombstones(spark, clean) is None

    # compaction applies tombstones physically; compacted tree carries none
    compacted = str(tmp_path / "compacted")
    assert compact_index(spark, full, compacted) == 2
    assert read_tombstones(spark, compacted) is None
    rows = spark.read.option("basePath", compacted).parquet(
        os.path.join(compacted, "batch=0")
    )
    assert rows.filter(F.col("vec_id") % 7 == 0).count() == 0
    got_c = sorted(
        map(tuple, search_index(spark, compacted, queries, cent, books).collect())
    )
    assert got_c == expected


def test_inplace_compaction_crash_safe_ordering(spark, tmp_path, monkeypatch):
    """r15 ADVICE regression: in-place compaction must drop the SOURCE
    shards before spending the tombstones.  The old order (spend first)
    had a crash window where tombstoned vectors survived in source
    shards with the tombstone record already gone — permanent silent
    resurfacing.  Pinned by (1) recording the actual filesystem delete
    sequence through a proxy, (2) the end state (single compacted batch,
    tombstones spent, search equals the never-indexed reference), and
    (3) the crash-window state (sources gone, tombstones unspent) being
    a harmless no-op on the next compaction."""
    import vector_graph_rag_spark.streaming.vector_index as VI
    import vector_graph_rag_spark.streaming.shards as S
    from vector_graph_rag_spark.streaming.vector_index import (
        append_tombstones,
        read_tombstones,
    )

    emb, books, cent, queries = _fixture(spark)
    dels = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    survivors = emb.filter(F.col("vec_id") % 7 != 0)
    clean = str(tmp_path / "clean")
    append_to_index(survivors, cent, books, clean, 0)
    expected = sorted(
        map(tuple, search_index(spark, clean, queries, cent, books).collect())
    )

    idx = str(tmp_path / "idx")
    for b in range(2):
        append_to_index(emb.filter(F.col("vec_id") % 2 == b), cent, books, idx, b)
    append_tombstones(dels, idx, 0)

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
    assert VI.compact_index(spark, idx, idx, compacted_id=2) == 2
    monkeypatch.undo()

    src_deletes = [
        i
        for i, p in enumerate(deletes)
        if "tombstones" not in p
        and (p.rstrip("/").endswith("batch=0") or p.rstrip("/").endswith("batch=1"))
    ]
    tomb_deletes = [i for i, p in enumerate(deletes) if "tombstones" in p]
    assert len(src_deletes) == 2 and len(tomb_deletes) == 1
    assert max(src_deletes) < min(tomb_deletes)  # sources first, spend last

    # end state: one batch, tombstones spent, search == never-indexed ref
    assert list_batch_ids(spark, idx) == [2]
    assert read_tombstones(spark, idx) is None
    got = sorted(
        map(tuple, search_index(spark, idx, queries, cent, books).collect())
    )
    assert got == expected

    # crash-window state: tombstones present but their rows already gone
    # (the spend never happened) — the next compaction is a no-op re-spend
    append_tombstones(dels, idx, 0)
    assert VI.compact_index(spark, idx, idx, compacted_id=3) == 1
    assert read_tombstones(spark, idx) is None
    assert list_batch_ids(spark, idx) == [3]
    got2 = sorted(
        map(tuple, search_index(spark, idx, queries, cent, books).collect())
    )
    assert got2 == expected

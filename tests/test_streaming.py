"""Streaming tests: stateful sessionization agrees with its batch twin."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_stateful_sessionize_matches_batch(spark):
    from vector_graph_rag_spark.queries import load_all
    from vector_graph_rag_spark.streaming.sessionize import run_sessionize_on_events

    streamed = run_sessionize_on_events(
        spark, f"{SF_SMOKE}/events.parquet"
    ).select(
        "user_id",
        F.col("session_start").cast("long").alias("start_epoch"),
        "n_events",
    )
    s_rows = {(r.user_id, r.start_epoch, r.n_events) for r in streamed.collect()}

    batch = load_all(include_retired=True)["sessionize_events"].fn(spark, SF_SMOKE)
    b_rows = {
        (r.user_id, r.session_start, r.n_events)
        for r in batch.select(
            "user_id",
            F.unix_timestamp("session_start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        ).collect()
    }

    # The stream closes a session only when a LATER event arrives for that
    # user (single availableNow batch: no timeout fires), so streamed ==
    # batch minus each user's final session.
    assert s_rows <= b_rows
    last_per_user = {}
    for u, start, n in b_rows:
        if u not in last_per_user or start > last_per_user[u][1]:
            last_per_user[u] = (u, start, n)
    expected = b_rows - set(last_per_user.values())
    assert s_rows == expected
    assert len(s_rows) > 0


def test_event_stream_reads_directory_datasets(spark, tmp_path):
    """At scale events is a partitioned DIRECTORY of part files, not one
    file; _event_stream must stream it directly (the single-file glob
    branch matches leaf file names and would silently read 0 rows — the
    r5 scale-smoke found exactly this)."""
    from vector_graph_rag_spark.sources.tables import load_table
    from vector_graph_rag_spark.streaming.sessionize import run_sessionize_on_events

    events = load_table(spark, SF_SMOKE, "events")
    out = str(tmp_path / "events_dir.parquet")
    events.repartition(4).write.parquet(out)

    from_dir = run_sessionize_on_events(spark, out)
    from_file = run_sessionize_on_events(spark, f"{SF_SMOKE}/events.parquet")
    key = lambda df: sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events) for r in df.collect()
    )
    assert key(from_dir) == key(from_file)
    assert len(key(from_dir)) > 0


def test_streaming_pii_scrub_equals_batch(spark, tmp_path):
    """The curation scrub is a stateless projection, so the identical plan
    must produce identical rows under Structured Streaming — both over the
    single-file testdata shape and a partitioned directory dataset."""
    import uuid

    from vector_graph_rag_spark.queries.curation import (
        pii_redaction_profile,
        pii_scrub_stream,
    )
    from vector_graph_rag_spark.sources.tables import load_table

    docs_dir = str(tmp_path / "docs_dir.parquet")
    load_table(spark, SF_SMOKE, "documents").repartition(4).write.parquet(docs_dir)

    batch = sorted(map(tuple, pii_redaction_profile(spark, SF_SMOKE).collect()))
    assert batch

    for path in (f"{SF_SMOKE}/documents.parquet", docs_dir):
        name = "pii_scrub_" + uuid.uuid4().hex[:12]
        q = (
            pii_scrub_stream(spark, path)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            if q.isActive:
                q.stop()
        assert sorted(map(tuple, spark.table(name).collect())) == batch


def test_stream_lm_counts_equal_batch_training(spark, tmp_path):
    """Incremental n-gram count maintenance: streaming the corpus in 3
    shards then aggregating must produce the EXACT batch-trained model —
    counts are integers, so cross-entropy scores match bit-for-bit; and a
    replayed batch id overwrites its own shard (idempotent)."""
    from vector_graph_rag_spark.operators.lm_filter import (
        lm_cross_entropy,
        train_bigram_lm,
    )
    from vector_graph_rag_spark.sources.tables import load_table
    from vector_graph_rag_spark.streaming.lm_counts import (
        lm_from_counts,
        write_batch_counts,
    )
    from vector_graph_rag_spark.streaming.shards import stream_batches

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    import glob
    import os
    import shutil

    docs_dir = str(tmp_path / "doc_shards")
    os.makedirs(docs_dir)
    for i in range(3):
        tmp = str(tmp_path / f"stage{i}")
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.move(part, f"{docs_dir}/shard{i}.parquet")
    state = str(tmp_path / "lm_state")
    n = stream_batches(
        spark, docs_dir, docs.schema, state,
        lambda batch_df, batch_id: write_batch_counts(batch_df, state, batch_id),
    )
    assert n == 3  # one micro-batch per shard file

    model_s = lm_from_counts(spark, state)
    model_b = train_bigram_lm(docs)
    assert model_s["vocab_size"] == model_b["vocab_size"]
    assert model_s["total_tokens"] == model_b["total_tokens"]

    score = lambda m: {
        r["doc_id"]: (r["n_tokens"], r["cross_entropy"])
        for r in lm_cross_entropy(docs, m).collect()
    }
    got, exp = score(model_s), score(model_b)
    assert got.keys() == exp.keys()
    for d in exp:
        assert got[d][0] == exp[d][0]
        assert got[d][1] == exp[d][1]  # EXACT: integer counts -> identical floats

    # idempotence: re-delivering batch 1 (same shard, same id) changes nothing
    replay = spark.read.parquet(f"{docs_dir}/shard1.parquet")
    write_batch_counts(replay, state, batch_id=1)
    model_r = lm_from_counts(spark, state)
    assert model_r["total_tokens"] == model_b["total_tokens"]
    assert score(model_r) == exp

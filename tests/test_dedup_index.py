"""Persistent incremental LSH dedup index — incremental == one-shot
full-corpus pairs (the equivalence contract), replay idempotence, empty
index, and probe plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_graph_rag_spark.sources.tables import load_table
from vector_graph_rag_spark.streaming.dedup_index import (
    append_to_index,
    batch_signatures,
    probe_index,
    self_pairs,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return load_table(spark, SF, "documents").select("doc_id", "text")


def _full_corpus_pairs(spark):
    """Reference: the one-shot registered LSH pair query (same arithmetic)."""
    from vector_graph_rag_spark.queries.dedup import minhash_lsh_pairs

    return {
        (r["doc_a"], r["doc_b"]): round(r["est_jaccard"], 9)
        for r in minhash_lsh_pairs(spark, SF).collect()
    }


def test_incremental_flow_equals_one_shot_corpus_pairs(spark, tmp_path):
    """Probe + self-pairs + append, batch by batch, over a 3-way sharding:
    the union of found pairs must be EXACTLY the full-corpus banded pair
    set with identical estimates (canonicalized a < b)."""
    docs = _docs(spark)
    state = str(tmp_path / "index")
    found: dict = {}
    for b in range(3):
        batch = docs.filter(F.col("doc_id") % 3 == b)
        sig = batch_signatures(batch).localCheckpoint(eager=True)
        for r in probe_index(spark, state, sig).collect():
            a, c = sorted((r["index_doc_id"], r["new_doc_id"]))
            found[(a, c)] = round(r["est_jaccard"], 9)
        for r in self_pairs(sig).collect():
            found[(r["doc_a"], r["doc_b"])] = round(r["est_jaccard"], 9)
        append_to_index(sig, state, b)
    assert found == _full_corpus_pairs(spark)
    assert len(found) > 0


def test_replay_overwrites_shard_and_probe_unchanged(spark, tmp_path):
    docs = _docs(spark)
    state = str(tmp_path / "index")
    for b in range(2):
        append_to_index(
            batch_signatures(docs.filter(F.col("doc_id") % 2 == b)), state, b
        )
    probe = batch_signatures(docs.filter(F.col("doc_id") % 7 == 0))
    before = sorted(
        map(tuple, probe_index(spark, state, probe).collect())
    )
    # replay shard 1 — identical content, must not duplicate pairs
    append_to_index(
        batch_signatures(docs.filter(F.col("doc_id") % 2 == 1)), state, 1
    )
    after = sorted(map(tuple, probe_index(spark, state, probe).collect()))
    assert before == after


def test_empty_index_probe_is_empty(spark, tmp_path):
    sig = batch_signatures(_docs(spark).limit(10))
    out = probe_index(spark, str(tmp_path / "nope"), sig)
    assert out.count() == 0
    assert out.columns == ["index_doc_id", "new_doc_id", "est_jaccard"]


def test_short_docs_produce_no_signature(spark):
    df = spark.createDataFrame(
        [(1, "one two"), (2, "a b c d e"), (3, "")], "doc_id long, text string"
    )
    got = {r["doc_id"] for r in batch_signatures(df).collect()}
    assert got == {2}


def test_probe_plan_broadcasts_batch_no_cartesian(spark, tmp_path):
    docs = _docs(spark)
    state = str(tmp_path / "index")
    append_to_index(batch_signatures(docs), state, 0)
    probe = batch_signatures(docs.limit(20))
    plan = (
        probe_index(spark, state, probe)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_empty_shard_appends_are_harmless(spark, tmp_path):
    """A run where nothing new survived appends a 0-row shard; later
    probes over the mixed glob must still work (Spark's empty parquet
    carries schema)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g h")], "doc_id long, text string"
    )
    state = str(tmp_path / "index")
    sig = batch_signatures(df)
    append_to_index(sig.limit(0), state, 0)  # empty-only index
    assert probe_index(spark, state, sig).count() == 0
    append_to_index(sig, state, 1)
    rekeyed = sig.withColumn("doc_id", F.col("doc_id") + 100)
    assert probe_index(spark, state, rekeyed).count() == 4  # 2 exact + 2 cross


def test_probe_bucket_cap_bounds_hot_fanout(spark, tmp_path):
    """A degenerate index bucket (many identical docs) fans the probe out
    by its full occupancy; the cap drops it (boilerplate is exact-dedup's
    job) while normal pairs keep matching."""
    boiler = [(i, "the same boilerplate text repeated here every time") for i in range(100)]
    normal = [(200, "a unique document about spark and parquet layout"),
              (201, "a unique document about spark and parquet layout")]
    idx_docs = spark.createDataFrame(boiler + normal[:1], "doc_id long, text string")
    state = str(tmp_path / "index")
    append_to_index(batch_signatures(idx_docs), state, 0)
    probe = batch_signatures(
        spark.createDataFrame(
            [(300, "the same boilerplate text repeated here every time"),
             normal[1]],
            "doc_id long, text string",
        )
    )
    uncapped = probe_index(spark, state, probe)
    capped = probe_index(spark, state, probe, bucket_cap=50)
    # uncapped: the boilerplate probe matches all 100 copies
    assert uncapped.filter(F.col("new_doc_id") == 300).count() == 100
    # capped: the hot bucket is gone, the near-identical normal pair stays
    assert capped.filter(F.col("new_doc_id") == 300).count() == 0
    kept = capped.filter(F.col("new_doc_id") == 201).collect()
    assert [r["index_doc_id"] for r in kept] == [200]
    assert kept[0]["est_jaccard"] == 1.0  # identical text, identical sig


def test_replay_does_not_double_count_band_rows(spark, tmp_path):
    """A replayed batch id must replace its band shard, not add to it:
    stale files would double the band rows (the probe's distinct would
    mask it — assert on the shard itself)."""
    import os

    docs = _docs(spark).limit(50)
    state = str(tmp_path / "index")
    sig = batch_signatures(docs).localCheckpoint(eager=True)
    append_to_index(sig, state, 0)
    shard = os.path.join(state, "bands", "batch=0")
    before = spark.read.parquet(shard).count()
    assert before > 0
    append_to_index(sig, state, 0)  # replay the same batch id
    assert spark.read.parquet(shard).count() == before


def test_probe_survives_fresh_catalog(spark, tmp_path):
    """The durable contract is the directory layout alone: a new session,
    whose catalog knows nothing of the index, probes the identical pair
    set."""
    docs = _docs(spark)
    state = str(tmp_path / "index")
    for b in range(2):
        append_to_index(
            batch_signatures(docs.filter(F.col("doc_id") % 2 == b)), state, b
        )
    probe = batch_signatures(docs.filter(F.col("doc_id") % 7 == 0))
    before = sorted(map(tuple, probe_index(spark, state, probe).collect()))
    assert before  # non-trivial
    fresh = spark.newSession()
    probe2 = batch_signatures(
        _docs(fresh).filter(F.col("doc_id") % 7 == 0)
    )
    after = sorted(map(tuple, probe_index(fresh, state, probe2).collect()))
    assert before == after


def _walk(node, ancestors=()):
    """(node, ancestors) for every node of a physical plan subtree."""
    out = [(node, list(ancestors))]
    kids = node.children()
    for i in range(kids.size()):
        out += _walk(kids.apply(i), [*ancestors, node])
    return out


def _plan_nodes(df):
    """:func:`_walk` over ``df``'s physical plan (the adaptive plan's
    initial plan: the one AQE starts from)."""
    root = df._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.initialPlan()
    return _walk(root)


def _band_shuffles(df):
    return [
        n for n, _ in _plan_nodes(df)
        if n.nodeName() == "Exchange" and "band" in n.outputPartitioning().toString()
    ]


def _index_side_contract(df):
    """Violations of the probe's 100 TB plan contract: no Exchange above a
    sigs scan; a band-keyed shuffle only for the occupancy count, with
    every index band scan under it cut to the batch keys by a left-semi
    broadcast join first."""
    def scans(nodes, col):
        return [
            (n, a) for n, a in nodes
            if n.nodeName().startswith("Scan") and f"{col}#" in n.output().toString()
        ]

    bad = []
    for node, anc in scans(_plan_nodes(df), "sig"):
        if any("Exchange" in a.nodeName() for a in anc):
            bad.append(f"sigs scan under an Exchange: {node.simpleString(25)}")
    for ex in _band_shuffles(df):
        part = ex.outputPartitioning().toString()
        below = _walk(ex)
        if not any(
            n.nodeName() == "HashAggregate" and "count(1)" in n.simpleString(25)
            for n, _ in below
        ):
            bad.append(f"band-keyed shuffle that is not the occupancy count: {part}")
        for _, path in scans(below, "band_key"):
            if not any(
                p.nodeName() == "BroadcastHashJoin" and "LeftSemi" in p.simpleString(25)
                for p in path
            ):
                bad.append(f"index bands shuffled without the batch-key semi-join: {part}")
    return bad


def test_probe_plan_has_no_index_side_exchange(spark, tmp_path):
    """The 100 TB contract: every Exchange in the probe plan is
    batch-proportional.  The uncapped probe shuffles no band rows at all;
    the capped probe's only band-keyed Exchange is the occupancy count,
    above a left-semi broadcast join that cuts the index bands to the
    batch's keys; the signature fetch builds on broadcast sides, so the
    sigs scan is never shuffled."""
    docs = _docs(spark)
    state = str(tmp_path / "index")
    append_to_index(batch_signatures(docs), state, 0)
    probe = batch_signatures(docs.limit(20))
    uncapped = probe_index(spark, state, probe)
    capped = probe_index(spark, state, probe, bucket_cap=50)
    assert _band_shuffles(uncapped) == []
    assert len(_band_shuffles(capped)) == 1
    for df in (uncapped, capped):
        assert _index_side_contract(df) == []
        assert all(n.nodeName() != "CartesianProduct" for n, _ in _plan_nodes(df))


def test_incremental_equivalence_fuzz(spark):
    """Random small corpora (with planted near-dups) under random
    shardings: the incremental flow must find exactly the same pair set
    as a one-shot self_pairs over the whole corpus — the equivalence
    contract beyond the fixed-corpus case."""
    import tempfile
    import shutil

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    base_texts = [
        "the quick brown fox jumps over the lazy dog today",
        "a completely different document about spark shuffles and joins",
        "tokens and shingles and bands and buckets for dedup",
    ]

    @settings(
        max_examples=6, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        picks=st.lists(st.integers(min_value=0, max_value=2), min_size=4, max_size=10),
        mod=st.integers(min_value=2, max_value=4),
    )
    def check(picks, mod):
        rows = [(i, base_texts[p]) for i, p in enumerate(picks)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        # one-shot reference over the whole corpus
        ref = {
            (r["doc_a"], r["doc_b"]): round(r["est_jaccard"], 9)
            for r in self_pairs(batch_signatures(docs)).collect()
        }
        state = tempfile.mkdtemp(prefix="vgr_fuzz_")
        try:
            found = {}
            from pyspark.sql import functions as F

            for b in range(mod):
                sig = batch_signatures(
                    docs.filter(F.col("doc_id") % mod == b)
                ).localCheckpoint(eager=True)
                for r in probe_index(spark, state, sig).collect():
                    a, c = sorted((r["index_doc_id"], r["new_doc_id"]))
                    found[(a, c)] = round(r["est_jaccard"], 9)
                for r in self_pairs(sig).collect():
                    found[(r["doc_a"], r["doc_b"])] = round(r["est_jaccard"], 9)
                append_to_index(sig, state, b)
            assert found == ref, (picks, mod, found, ref)
        finally:
            shutil.rmtree(state, ignore_errors=True)

    check()


def test_self_pairs_bucket_cap_bounds_hot_fanout(spark):
    """The within-batch half of the nightly flow gets the same skew guard
    as the probe: a boilerplate band key held by many of tonight's docs
    would pair quadratically in its occupancy; the cap drops it while
    normal pairs keep matching, and a generous cap changes nothing."""
    from vector_graph_rag_spark.streaming.dedup_index import self_pairs

    boiler = [(i, "the same boilerplate text repeated here every time") for i in range(60)]
    normal = [(200, "a unique document about spark and parquet layout"),
              (201, "a unique document about spark and parquet layout")]
    sig = batch_signatures(
        spark.createDataFrame(boiler + normal, "doc_id long, text string")
    )
    uncapped = self_pairs(sig)
    assert uncapped.filter(F.col("doc_a") < 100).count() == 60 * 59 // 2
    capped = self_pairs(sig, bucket_cap=50)
    assert capped.filter(F.col("doc_a") < 100).count() == 0
    kept = capped.collect()
    assert [(r["doc_a"], r["doc_b"], r["est_jaccard"]) for r in kept] == [(200, 201, 1.0)]
    # a cap above every occupancy is a no-op
    generous = self_pairs(sig, bucket_cap=10_000)
    assert sorted(map(tuple, generous.collect())) == sorted(map(tuple, uncapped.collect()))

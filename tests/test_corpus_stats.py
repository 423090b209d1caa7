"""Incremental HLL corpus stats — sharded union == single pass (exact),
replay idempotence, stream drain, and error bounds vs exact distincts."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from vector_graph_rag_spark.sources.tables import load_table
from vector_graph_rag_spark.streaming.corpus_stats import (
    _batch_stats,
    corpus_stats,
    write_batch_stats,
)
from vector_graph_rag_spark.streaming.shards import stream_batches

SF = "/root/testdata/sf0.001"
COLS = ["doc_id", "source", "text"]


def _docs(spark):
    return load_table(spark, SF, "documents").select("doc_id", "text", "source")


def test_merged_estimate_is_sharding_independent(spark, tmp_path):
    """HLL union takes bucket-wise register maxima — associative and
    commutative — so the merged estimate must be IDENTICAL for any
    sharding of the same corpus (the property that makes stored shard
    state trustworthy), and the additive counters exact."""
    docs = _docs(spark)
    results = []
    for mod in (2, 5):
        state = str(tmp_path / f"stats{mod}")
        for b in range(mod):
            write_batch_stats(
                docs.filter(F.col("doc_id") % mod == b), state, b, COLS
            )
        results.append(
            {r["col"]: r.asDict() for r in corpus_stats(spark, state).collect()}
        )
    two, five = results
    assert set(two) == set(COLS)
    exact_rows = {
        c: docs.filter(F.col(c).isNotNull()).count() for c in COLS
    }
    for c in COLS:
        assert two[c]["distinct_est"] == five[c]["distinct_est"], c  # exact
        assert two[c]["n_rows"] == five[c]["n_rows"] == exact_rows[c]
        assert two[c]["n_bytes"] == five[c]["n_bytes"]
        assert (two[c]["n_shards"], five[c]["n_shards"]) == (2, 5)


def test_estimates_within_hll_error_of_exact(spark, tmp_path):
    docs = _docs(spark)
    state = str(tmp_path / "stats")
    write_batch_stats(docs, state, 0, COLS)
    got = {r["col"]: r["distinct_est"] for r in corpus_stats(spark, state).collect()}
    for c in COLS:
        exact = docs.agg(F.countDistinct(F.col(c).cast("string"))).collect()[0][0]
        # lgConfigK=12 -> ~1.6% RSE; allow 5 sigma + small-count slack
        assert abs(got[c] - exact) <= max(0.08 * exact, 2), (c, got[c], exact)


def test_replay_overwrites_shard_idempotently(spark, tmp_path):
    """A replayed batch id must overwrite its own shard, not double-count
    (the Structured Streaming checkpoint-replay contract)."""
    docs = _docs(spark)
    state = str(tmp_path / "stats")
    write_batch_stats(docs.filter(F.col("doc_id") % 2 == 0), state, 0, COLS)
    write_batch_stats(docs.filter(F.col("doc_id") % 2 == 1), state, 1, COLS)
    once = {r["col"]: r.asDict() for r in corpus_stats(spark, state).collect()}
    write_batch_stats(docs.filter(F.col("doc_id") % 2 == 1), state, 1, COLS)  # replay
    twice = {r["col"]: r.asDict() for r in corpus_stats(spark, state).collect()}
    assert once == twice


def test_stream_drain_matches_batch(spark, tmp_path):
    """availableNow drain over the parquet files == batch-written shards."""
    import shutil

    state = str(tmp_path / "stats")
    # the file stream source reads a directory: stage the one-file table
    source = str(tmp_path / "docs")
    os.makedirs(source)
    shutil.copy(os.path.join(SF, "documents.parquet"), source)
    docs = spark.read.parquet(source)
    n = stream_batches(
        spark, source, docs.schema, state,
        lambda batch_df, batch_id: write_batch_stats(batch_df, state, batch_id, COLS),
    )
    assert n >= 1
    got = {r["col"]: r["n_rows"] for r in corpus_stats(spark, state).collect()}
    for c in COLS:
        assert got[c] == docs.filter(F.col(c).isNotNull()).count(), c


def test_plan_is_jvm_only(spark, tmp_path):
    docs = _docs(spark)
    state = str(tmp_path / "stats")
    write_batch_stats(docs, state, 0, COLS)
    plan = corpus_stats(spark, state)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_registers_match_duckdb_twin_exactly(spark):
    """The HLL register table is cross-engine portable: md5-derived hash,
    top-12-bit bucket, integer bit-length rho — DuckDB reproduces every
    (bucket, rho) register EXACTLY.  This is the oracle path for a future
    registry swap of the stats surface (the estimate itself divides
    exact integers through identical IEEE ops)."""
    import duckdb

    from vector_graph_rag_spark.streaming.corpus_stats import _registers

    duck = {
        b: r
        for b, r in duckdb.connect()
        .execute(
            """
            WITH v AS (SELECT CAST(range AS VARCHAR) AS s FROM range(0, 500)),
            h AS (SELECT CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h60 FROM v),
            r AS (
              SELECT h60 >> 48 AS bucket,
                     CASE WHEN h60 % 281474976710656 = 0 THEN 49
                          ELSE 49 - length(to_base(h60 % 281474976710656, 2)) END AS rho
              FROM h
            )
            SELECT bucket, MAX(rho) FROM r GROUP BY bucket
            """
        )
        .fetchall()
    }
    df = spark.range(500).select(F.col("id").cast("string").alias("v"))
    got = {r["bucket"]: r["rho"] for r in _registers(df, "v").collect()}
    assert got == duck


def test_stats_drift_flags_breaks_not_growth(spark, tmp_path):
    """Organic growth inside the threshold passes; a collapsed feed (most
    rows gone) and a missing column both flag."""
    from vector_graph_rag_spark.streaming.corpus_stats import stats_drift

    docs = _docs(spark)
    d1, d2 = str(tmp_path / "day1"), str(tmp_path / "day2")
    write_batch_stats(docs, d1, 0, COLS)
    write_batch_stats(docs.filter(F.col("doc_id") % 20 == 0), d2, 0, ["doc_id", "source"])
    prev, cur = corpus_stats(spark, d1), corpus_stats(spark, d2)
    rep = {(r["col"], r["metric"]): r for r in stats_drift(cur, prev).collect()}
    assert not rep[("doc_id", "n_rows")]["ok"]  # 95% collapse
    assert not rep[("text", "n_rows")]["ok"]  # column vanished -> NULL cur
    assert rep[("text", "n_rows")]["cur"] is None
    # identical snapshots pass everywhere
    all_ok = stats_drift(prev, prev).collect()
    assert all(r["ok"] for r in all_ok)


def test_n_bytes_counts_utf8_bytes_not_chars(spark, tmp_path):
    df = spark.createDataFrame([("äöü",), ("abc",)], "text string")
    state = str(tmp_path / "stats")
    write_batch_stats(df, state, 0, ["text"])
    row = corpus_stats(spark, state).collect()[0]
    assert row["n_bytes"] == 6 + 3  # ä/ö/ü are 2 bytes each in UTF-8


# --- incremental quantile registers (round 8) --------------------------------


def test_quantile_registers_sharding_invariant_and_idempotent(spark, tmp_path):
    """Bucket counts are additive -> the merged histogram (and therefore
    every quantile answer) is IDENTICAL for any sharding of the corpus,
    and a replayed batch id overwrites its own shard."""
    from vector_graph_rag_spark.streaming.corpus_stats import (
        corpus_quantiles,
        write_batch_quantiles,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "n_chars")
    results = []
    for mod in (2, 5):
        state = str(tmp_path / f"q{mod}")
        for b in range(mod):
            write_batch_quantiles(
                docs.filter(F.col("doc_id") % mod == b), state, b,
                ["doc_id", "n_chars"],
            )
        results.append(
            {(r["col"], r["q"]): r.asDict()
             for r in corpus_quantiles(spark, state).collect()}
        )
    assert results[0] == results[1]
    # replay: rewrite shard 1 of the mod-2 tree — nothing changes
    state = str(tmp_path / "q2")
    write_batch_quantiles(
        docs.filter(F.col("doc_id") % 2 == 1), state, 1, ["doc_id", "n_chars"]
    )
    replay = {(r["col"], r["q"]): r.asDict()
              for r in corpus_quantiles(spark, state).collect()}
    assert replay == results[0]


def test_quantile_bounds_contain_exact_percentile(spark, tmp_path):
    """The reported [lo, hi] must contain the exact nearest-rank
    percentile, and hi/lo stays within the 2^-SUBBITS design bound."""
    from vector_graph_rag_spark.streaming.corpus_stats import (
        corpus_quantiles,
        write_batch_quantiles,
    )

    docs = load_table(spark, SF, "documents").select("n_chars")
    state = str(tmp_path / "q")
    write_batch_quantiles(docs, state, 0, ["n_chars"])
    vals = sorted(r["n_chars"] for r in docs.collect())
    got = {r["q"]: r for r in corpus_quantiles(spark, state, qs=(0.5, 0.9, 0.99)).collect()}
    import math

    for q in (0.5, 0.9, 0.99):
        exact = vals[max(1, min(len(vals), math.ceil(q * len(vals)))) - 1]
        r = got[q]
        assert r["lo"] <= exact <= r["hi"], (q, exact, r)
        if r["lo"] > 0:
            assert r["hi"] / r["lo"] <= 1 + 2 ** -4 + 1e-9


def test_quantile_buckets_match_duckdb_twin_exactly(spark):
    """The bucket table is cross-engine portable pure-integer arithmetic:
    DuckDB reproduces every (qb, cnt) row exactly — the oracle path for a
    future registry swap."""
    import duckdb

    from vector_graph_rag_spark.streaming.corpus_stats import _qbuckets

    duck = {
        qb: cnt
        for qb, cnt in duckdb.connect()
        .execute(
            """
            WITH v AS (
              SELECT CAST(range * range % 97031 AS BIGINT) AS v
              FROM range(0, 5000)
            ),
            b AS (
              SELECT CASE WHEN v <= 0 THEN 0
                          ELSE length(to_base(v, 2)) END AS e,
                     CASE WHEN v <= 0 THEN 0
                          ELSE v >> greatest(length(to_base(v, 2)) - 5, 0) END AS m
              FROM v
            )
            SELECT e * 32 + m AS qb, COUNT(*) FROM b GROUP BY 1
            """
        )
        .fetchall()
    }
    df = spark.range(5000).select((F.col("id") * F.col("id") % 97031).alias("x"))
    got = {r["qb"]: r["cnt"] for r in _qbuckets(df, "x").collect()}
    assert got == duck


def test_quantile_exact_region_and_zero(spark, tmp_path):
    """Values < 32 bin exactly (lo == hi == value); zeros land in bucket 0."""
    from vector_graph_rag_spark.streaming.corpus_stats import (
        corpus_quantiles,
        write_batch_quantiles,
    )

    df = spark.createDataFrame([(v,) for v in [0, 1, 3, 7, 31, 31, 31]], "x long")
    state = str(tmp_path / "q")
    write_batch_quantiles(df, state, 0, ["x"])
    got = {r["q"]: r for r in corpus_quantiles(spark, state, qs=(0.01, 0.5, 0.99)).collect()}
    assert got[0.01]["lo"] == got[0.01]["hi"] == 0
    assert got[0.5]["lo"] == got[0.5]["hi"] == 7
    assert got[0.99]["lo"] == got[0.99]["hi"] == 31


def test_quantile_plan_is_jvm_only(spark, tmp_path):
    from vector_graph_rag_spark.streaming.corpus_stats import _qbuckets

    docs = load_table(spark, SF, "documents")
    plan = _qbuckets(docs, "n_chars")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_quantile_drift_flags_shifts_not_overlap(spark, tmp_path):
    """Bracket-aware drift: identical distributions pass, overlapping
    brackets pass, a >50% P-shift (doc-length collapse) flags, and a
    column missing on either side flags with NULLs."""
    from vector_graph_rag_spark.streaming.corpus_stats import (
        corpus_quantiles,
        quantile_drift,
        write_batch_quantiles,
    )

    base = spark.createDataFrame([(v,) for v in range(100, 200)], "n long")
    collapsed = spark.createDataFrame([(v // 10,) for v in range(100, 200)], "n long")
    d1, d2, d3 = (str(tmp_path / x) for x in ("a", "b", "c"))
    write_batch_quantiles(base, d1, 0, ["n"])
    write_batch_quantiles(collapsed, d2, 0, ["n"])
    write_batch_quantiles(base.withColumnRenamed("n", "m"), d3, 0, ["m"])
    q1, q2, q3 = (corpus_quantiles(spark, d) for d in (d1, d2, d3))
    assert all(r["ok"] for r in quantile_drift(q1, q1).collect())
    shifted = {r["q"]: r["ok"] for r in quantile_drift(q2, q1).collect()}
    assert not any(shifted.values())  # 10x collapse flags every quantile
    missing = quantile_drift(q3, q1).collect()
    assert not any(r["ok"] for r in missing)  # m vs n: both sides missing


def test_qbucket_bounds_property():
    """Pure-python property over the full value range: every value falls
    inside its own bucket's [lo, hi], ids are monotone in value, and the
    relative width respects the 2^-SUBBITS design bound."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vector_graph_rag_spark.streaming.corpus_stats import (
        _Q_SMALL,
        qbucket_bounds,
    )

    def bucket_of(v: int) -> int:
        if v <= 0:
            return 0
        e = v.bit_length()
        m = v >> max(e - 5, 0)
        return e * _Q_SMALL + m

    @settings(max_examples=500, deadline=None)
    @given(v=st.integers(min_value=0, max_value=2**62))
    def check(v):
        qb = bucket_of(v)
        lo, hi = qbucket_bounds(qb)
        assert lo <= v <= hi
        if lo > 0:
            assert hi / lo <= 1 + 2 ** -4 + 1e-9
        # monotone: the next value's bucket never decreases
        assert bucket_of(v + 1) >= qb

    check()

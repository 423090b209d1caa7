"""Milvus search-API family (queries/search_api.py) — kernel semantics the
parquet fixtures can't express: MMR greedy selection vs a pure-Python twin
(ties, fewer-than-k candidates, diversity-beats-relevance), range-band
boundary exactness, and grouping-search tie-breaks.

The four queries (ACTIVE since the r11 swap) are additionally hash-gated
against their DuckDB oracles by tests/test_oracle_parity.py every session.
"""

from __future__ import annotations

from pyspark.sql import functions as F


# --- pure-Python MMR twin -----------------------------------------------------


def _dot(a, b):
    return sum(x * y for x, y in zip(a, b))


def _twin_mmr(query, cands, k):
    """cands: list of (vec_id, vec).  Greedy argmax of rel - max_sim
    (lambda = 0.5 integer form), ties to the lowest vec_id; step 1 uses
    max_sim = 0.  Returns [(sel_rank, vec_id, rel, mmr_score)]."""
    rel = {vid: _dot(query, v) for vid, v in cands}
    vecs = dict(cands)
    selected, out = [], []
    for rank in range(1, k + 1):
        rem = [vid for vid, _ in cands if vid not in selected]
        if not rem:
            break
        scored = []
        for vid in rem:
            maxsim = max((_dot(vecs[vid], vecs[s]) for s in selected), default=0)
            scored.append((rel[vid] - maxsim, -vid, vid))
        m, _negid, vid = max(scored)
        selected.append(vid)
        out.append((rank, vid, rel[vid], m))
    return out


def _run_mmr(spark, rows, n_queries=1, k=5, cand=20):
    """Drive the registered query's kernel on a synthetic embeddings frame
    by monkey-free re-composition: same code path via a temp parquet dir."""
    import os
    import tempfile

    import vector_graph_rag_spark.queries.search_api as sa

    tmp = tempfile.mkdtemp(prefix="vgr_mmr_")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "embeddings.parquet"))
    old_nq, old_k, old_cand = sa._MMR_NQ, sa._MMR_K, sa._MMR_CAND
    sa._MMR_NQ, sa._MMR_K, sa._MMR_CAND = n_queries, k, cand
    try:
        return {
            (r["query_id"], r["sel_rank"]): (r["vec_id"], r["rel"], r["mmr_score"])
            for r in sa.mmr_diversity_rerank_q(spark, tmp).collect()
        }
    finally:
        sa._MMR_NQ, sa._MMR_K, sa._MMR_CAND = old_nq, old_k, old_cand
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


def test_mmr_matches_python_twin_and_diversity_beats_relevance(spark):
    """A near-duplicate of the rank-1 pick vs a lower-rel vector orthogonal
    to it: plain top-k would take the near-dup second; MMR must pick the
    orthogonal vector.  Full (rank, id, rel, mmr) parity with the twin.
    The query itself is in the corpus but EXCLUDED from candidates (the
    rerank contract — a selected self degenerates every step-2 score)."""
    q = [1.0, 0.0]
    vecs = [
        (1, [0.8, 0.6]),     # rank 1: highest rel
        (2, [0.6, -0.8]),    # orthogonal to v1, lower rel -> MMR rank 2
        (3, [0.79, 0.613]),  # near-dup of v1: top-k's rank 2, MMR's rank 3
    ]
    rows = [(0, [float(x) for x in q], 0)] + [
        (vid, [float(x) for x in v], 0) for vid, v in vecs
    ]
    got = _run_mmr(spark, rows, n_queries=1, k=4, cand=10)
    qv = [round(x * 1000) for x in q]
    ivecs = [(vid, [round(x * 1000) for x in v]) for vid, v in vecs]
    twin = _twin_mmr(qv, ivecs, 4)
    assert got == {(0, rank): (vid, rel, m) for rank, vid, rel, m in twin}
    # the diversity property itself: rank 2 is the orthogonal vector, not
    # the near-dup that plain top-k would rank second
    assert got[(0, 1)][0] == 1
    assert got[(0, 2)][0] == 2
    assert got[(0, 3)][0] == 3
    assert (0, 4) not in got  # self never selected


def test_mmr_fewer_candidates_than_k_stops_early(spark):
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.5, 0.5], 0),
        (2, [0.4, 0.6], 0),
    ]
    got = _run_mmr(spark, rows, n_queries=1, k=5, cand=10)
    # self excluded -> only 2 candidates; selection stops at 2 of k=5
    assert sorted(got) == [(0, 1), (0, 2)]


def test_mmr_tie_breaks_to_lowest_vec_id(spark):
    """Two identical candidates: after the first is selected, both remaining
    scores tie — the lower vec_id must win each step."""
    rows = [
        (0, [1.0, 0.0], 0),
        (5, [0.6, 0.0], 0),  # identical twins, rel ties
        (3, [0.6, 0.0], 0),
    ]
    got = _run_mmr(spark, rows, n_queries=1, k=3, cand=10)
    twin = _twin_mmr(
        [1000, 0],
        [(5, [600, 0]), (3, [600, 0])],  # self excluded
        3,
    )
    assert got == {(0, rank): (vid, rel, m) for rank, vid, rel, m in twin}
    assert got[(0, 1)][0] == 3  # lower id of the tied twins wins rank 1


def test_range_band_is_boundary_exact(spark):
    """score == range_filter is IN (<=), score == radius is OUT (>) — the
    Milvus band convention, pinned on hand-built vectors landing exactly
    on both boundaries after 6-decimal rounding."""
    import os
    import tempfile

    import vector_graph_rag_spark.queries.search_api as sa

    # query = e1; candidates with cosine exactly 0.35, 0.9, and 1.0
    rows = [
        (0, [1.0, 0.0, 0.0], 1),
        (10, [0.35, float((1 - 0.35**2) ** 0.5), 0.0], 1),  # cos = 0.35
        (11, [0.9, float((1 - 0.81) ** 0.5), 0.0], 1),      # cos = 0.9
        (12, [1.0, 0.0, 0.0], 1),                           # cos = 1.0
    ]
    tmp = tempfile.mkdtemp(prefix="vgr_range_")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "embeddings.parquet"))
    try:
        got = {
            (r["query_id"], r["vec_id"]): r["score"]
            for r in sa.range_search_radius_q(spark, tmp).collect()
            if r["query_id"] == 0
        }
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    assert (0, 11) in got and abs(got[(0, 11)] - 0.9) < 1e-9  # boundary in
    assert (0, 10) not in got  # radius boundary excluded
    assert (0, 12) not in got  # above range_filter excluded
    assert (0, 0) not in got   # self (cos 1.0) excluded


def test_grouping_search_one_hit_per_group_lowest_id_ties(spark):
    import os
    import shutil
    import tempfile

    import vector_graph_rag_spark.queries.search_api as sa

    # query 0 = e1.  group 1 has tied best hits (ids 7, 4) -> 4 wins;
    # group 2 has one weaker hit; group 3 empty-label rows are dropped.
    rows = [
        (0, [1.0, 0.0], 1),
        (7, [0.8, 0.0], 1),
        (4, [0.8, 0.0], 1),
        (9, [0.5, 0.5], 2),
        (12, [0.9, 0.0], None),
    ]
    tmp = tempfile.mkdtemp(prefix="vgr_group_")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "embeddings.parquet"))
    try:
        got = {
            (r["query_id"], r["label"]): (r["vec_id"], r["group_rank"])
            for r in sa.grouping_search_topk_q(spark, tmp).collect()
            if r["query_id"] == 0
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert got[(0, 1)] == (0, 1)  # the query itself is group 1's best
    assert got[(0, 2)][1] == 2
    assert all(lbl is not None for (_q, lbl) in got)


def test_bm25_from_index_matches_tokenizing_path(spark, tmp_path):
    """bm25_scores_from_index derives tf/dl/df/avgdl from the STORED term
    index (write_term_index layout) and must equal the tokenizing
    bm25_scores row-for-row — the shared-index rewrite that lets hybrid
    fusion and sparse_index_search pay the corpus tokenize+agg once
    (r10 verdict, Next #4)."""
    from tests.conftest import SF_SMOKE
    from vector_graph_rag_spark.queries.ranking import (
        _BM25_QUERIES,
        bm25_scores,
        bm25_scores_from_index,
    )
    from vector_graph_rag_spark.queries.search_api import write_term_index
    from vector_graph_rag_spark.sources.tables import load_table

    path = str(tmp_path / "term_index")
    write_term_index(load_table(spark, SF_SMOKE, "documents"), path)
    from_tok = sorted(map(tuple, bm25_scores(spark, SF_SMOKE, _BM25_QUERIES).collect()))
    from_idx = sorted(
        map(tuple, bm25_scores_from_index(spark, path, _BM25_QUERIES).collect())
    )
    assert from_tok == from_idx
    assert from_tok, "expected non-empty BM25 scores"


def test_mmr_kernel_randomized_multiquery_matches_twin(spark):
    """Seeded random sweep DIRECTLY against the extracted kernel
    (mmr_greedy_select — the function the API route shares): 8 queries
    with 1-12 integer candidates each, varied dims of relevance and
    similarity, all folded in ONE Spark job and compared per-query to the
    pure-Python twin.  Covers shapes the hand-built cases don't (negative
    rels, repeated vectors under distinct ids, k > candidates)."""
    import random

    from vector_graph_rag_spark.queries.search_api import mmr_greedy_select

    rng = random.Random(20260815)
    rows, twins = [], {}
    for qid in range(8):
        qv = [rng.randint(-5, 5) for _ in range(4)]
        nc = rng.randint(1, 12)
        vids = rng.sample(range(100), nc)
        cands = []
        for vid in vids:
            v = [rng.randint(-5, 5) for _ in range(4)]
            cands.append((vid, v))
            rows.append((qid, vid, _dot(qv, v), v))
        twins[qid] = _twin_mmr(qv, cands, 5)
    cand_df = spark.createDataFrame(
        rows, "query_id long, vec_id long, rel long, qv array<long>"
    )
    got = {
        (r["query_id"], r["sel_rank"]): (r["vec_id"], r["rel"], r["mmr_score"])
        for r in mmr_greedy_select(cand_df, 5).collect()
    }
    want = {
        (qid, rank): (vid, rel, m)
        for qid, twin in twins.items()
        for rank, vid, rel, m in twin
    }
    assert got == want
    assert len({qid for qid, _ in got}) == 8  # every query produced output


def test_colbert_maxsim_self_retrieval_and_twin(spark):
    """MaxSim semantics pinned two ways: (1) each query (the first 3
    tokens of docs 7/21/42) scores its OWN document at the maximum — every
    query token matches its twin with dot=1 inside the source doc's
    first-8 window, so NO doc can beat the self score (docs sharing all
    three tokens TIE, and ties break to the lower doc_id — the synthetic
    corpus's small vocabulary makes such ties real); (2) a pure-Python
    twin over the collected token vectors reproduces every (query, doc)
    score in the top-k output exactly."""
    from tests.conftest import SF_SMOKE

    from vector_graph_rag_spark.functions.embedding import mock_embedding
    from vector_graph_rag_spark.queries import load_all
    from vector_graph_rag_spark.queries.search_api import (
        _MAXSIM_DOC_TOKS,
        _MAXSIM_Q_TOKS,
        _MAXSIM_QUERY_DOCS,
    )
    from vector_graph_rag_spark.sources.tables import load_table

    out = load_all(include_retired=True)["colbert_maxsim_topk"].fn(spark, SF_SMOKE)
    rows = out.collect()
    by_query = {}
    for r in rows:
        by_query.setdefault(r["query_id"], []).append(r)
    assert set(by_query) == set(_MAXSIM_QUERY_DOCS)

    # pure-Python twin over the same mock token vectors
    d = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    from pyspark.sql import functions as F

    dv = (
        d.select("doc_id", F.explode(F.slice(F.split("text", " "), 1, _MAXSIM_DOC_TOKS)).alias("tok"))
        .select("doc_id", mock_embedding("tok").alias("v"))
        .collect()
    )
    qv = (
        d.filter(F.col("doc_id").isin(*_MAXSIM_QUERY_DOCS))
        .select(F.col("doc_id").alias("query_id"), F.explode(F.slice(F.split("text", " "), 1, _MAXSIM_Q_TOKS)).alias("tok"))
        .select("query_id", mock_embedding("tok").alias("qv"))
        .collect()
    )
    from collections import defaultdict
    from decimal import Decimal

    docvecs = defaultdict(list)
    for r in dv:
        docvecs[r["doc_id"]].append(list(r["v"]))
    qvecs = defaultdict(list)
    for r in qv:
        qvecs[r["query_id"]].append(list(r["qv"]))

    def _score(qid, did):
        total = Decimal(0)
        for q in qvecs[qid]:
            best = max(
                round(sum(a * b for a, b in zip(q, v)), 6) for v in docvecs[did]
            )
            total += Decimal(f"{best:.6f}")
        return float(total)

    for r in rows:
        assert abs(_score(r["query_id"], r["doc_id"]) - r["maxsim"]) < 1e-9, (
            r["query_id"], r["doc_id"])

    # no doc beats the self score, and the self score tops its query
    for qid, rs in by_query.items():
        self_score = _score(qid, qid)
        top = min(rs, key=lambda r: r["rank"])
        assert top["maxsim"] <= self_score + 1e-9, f"query {qid}: beaten self"
        assert abs(top["maxsim"] - self_score) < 1e-9, (
            f"query {qid}: top is below the self score"
        )

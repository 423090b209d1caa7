"""LM-perplexity filtering + DSIR importance weighting vs pure-Python twins.

Every numeric claim the distributed operators make is recomputed with a
straight-line Python implementation of the same math on the same sf0.001
corpus; results must agree to float tolerance (these are library operators,
not hash-oracle queries — the registry is frozen at 100, see
operators/lm_filter.py module docstring).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from vector_graph_rag_spark.operators.lm_filter import (
    _BOS,
    dsir_importance_weights,
    dsir_select,
    lm_cross_entropy,
    perplexity_buckets,
    train_bigram_lm,
)
from vector_graph_rag_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
ALPHA = 0.1
LAM = 0.7


def _toks(s: str) -> list[str]:
    return [t for t in s.split(" ") if t]


@pytest.fixture(scope="module")
def corpus(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text", "source")
    rows = {r["doc_id"]: (r["text"], r["source"]) for r in docs.collect()}
    return docs, rows


def _python_lm(train_texts):
    uni: dict[str, int] = {}
    bi: dict[tuple[str, str], int] = {}
    ctx: dict[str, int] = {}
    for text in train_texts:
        ts = _toks(text)
        for t in ts:
            uni[t] = uni.get(t, 0) + 1
        prev = _BOS
        for t in ts:
            bi[(prev, t)] = bi.get((prev, t), 0) + 1
            ctx[prev] = ctx.get(prev, 0) + 1
            prev = t
    total = sum(uni.values())
    vocab = len(uni)
    return uni, bi, ctx, total, vocab


def test_cross_entropy_matches_python_twin(spark, corpus):
    docs, rows = corpus
    # train on the src0 slice, score the whole corpus — the CCNet shape
    train = docs.filter("source = 'src0'")
    model = train_bigram_lm(train, alpha=ALPHA)
    got = {
        r["doc_id"]: (r["n_tokens"], r["cross_entropy"])
        for r in lm_cross_entropy(docs, model, lam=LAM).collect()
    }

    uni, bi, ctx, total, vocab = _python_lm(
        [t for t, s in rows.values() if s == "src0"]
    )
    assert model["vocab_size"] == vocab and model["total_tokens"] == total
    unseen = ALPHA / (total + ALPHA * (vocab + 1))
    for doc_id, (text, _) in rows.items():
        ts = _toks(text)
        if not ts:
            assert doc_id not in got
            continue
        ent = 0.0
        prev = _BOS
        for t in ts:
            p_bi = bi.get((prev, t), 0) / ctx[prev] if prev in ctx else 0.0
            p_uni = (
                (uni[t] + ALPHA) / (total + ALPHA * (vocab + 1))
                if t in uni
                else unseen
            )
            ent -= math.log2(LAM * p_bi + (1 - LAM) * p_uni)
            prev = t
        n, ce = got[doc_id]
        assert n == len(ts)
        assert ce == pytest.approx(ent / len(ts), rel=1e-9)


def test_perplexity_buckets_tier_fractions(spark, corpus):
    docs, rows = corpus
    model = train_bigram_lm(docs.filter("source = 'src0'"), alpha=ALPHA)
    tiers = perplexity_buckets(lm_cross_entropy(docs, model)).collect()
    n = len(tiers)
    by = {}
    for r in tiers:
        by.setdefault(r["tier"], []).append(r["cross_entropy"])
    # roughly thirds, and ordered: every head entropy <= every tail entropy
    assert abs(len(by["head"]) - n / 3) <= 2
    assert abs(len(by["tail"]) - n / 3) <= 2
    assert max(by["head"]) <= min(by["middle"])
    assert max(by["middle"]) <= min(by["tail"])


def test_perplexity_buckets_approx_agrees_with_exact(spark, corpus):
    """The sketched scale path must agree with the exact window variant on
    nearly every document (sketch error only at tier boundaries), and its
    plan must contain no global Sort of the scored frame."""
    from vector_graph_rag_spark.operators.lm_filter import (
        perplexity_buckets_approx,
    )

    docs, _ = corpus
    model = train_bigram_lm(docs.filter("source = 'src0'"), alpha=ALPHA)
    scores = lm_cross_entropy(docs, model).cache()
    exact = {r["doc_id"]: r["tier"] for r in perplexity_buckets(scores).collect()}
    approx_df = perplexity_buckets_approx(scores)
    approx = {r["doc_id"]: r["tier"] for r in approx_df.collect()}
    assert set(exact) == set(approx)
    n = len(exact)
    agree = sum(exact[d] == approx[d] for d in exact)
    assert agree >= 0.97 * n, f"{agree}/{n} tiers agree"
    # the sketched path is a pure threshold comparison — no Window at all
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    scores.unpersist()


def test_perplexity_buckets_matches_rank_twin_with_boundary_ties(spark):
    """The grouped-histogram formulation must reproduce percent_rank()
    OVER (ORDER BY round(ce, 6), doc_id) exactly — including when a large
    tie group straddles a tier cut (the boundary-group window path)."""
    rows = []
    for i in range(10):
        rows.append((i, 5, 0.5))  # clear head
    for i in range(10, 40):
        rows.append((i, 5, 1.0))  # 30-way tie straddling the head cut
    for i in range(40, 60):
        rows.append((i, 5, 1.5 + (i % 7) * 0.01))  # ties inside the tail
    df = spark.createDataFrame(
        rows, "doc_id long, n_tokens long, cross_entropy double"
    )
    got = {r["doc_id"]: r["tier"] for r in perplexity_buckets(df).collect()}
    assert len(got) == len(rows)
    order = sorted((round(ce, 6), d) for d, _, ce in rows)
    n = len(order)
    for idx, (_, d) in enumerate(order):
        pr = idx / (n - 1)
        exp = "head" if pr < 1 / 3 else ("tail" if pr >= 2 / 3 else "middle")
        assert got[d] == exp, (d, pr, got[d], exp)
    # the straddling tie group really did split across two tiers
    tie_tiers = {got[d] for d in range(10, 40)}
    assert tie_tiers == {"head", "middle"}


def test_dsir_weights_match_python_twin(spark, corpus):
    docs, rows = corpus
    n_buckets, alpha = 256, 1.0
    w = dsir_importance_weights(
        docs.withColumn("is_t", docs.source == "src0"),
        "is_t",
        n_buckets=n_buckets,
        alpha=alpha,
    )
    got = {r["doc_id"]: (r["n_features"], r["weight"]) for r in w.collect()}

    # twin: reuse Spark's bucket assignment (xxhash64 is the partitioner
    # under test only insofar as it is deterministic), redo all math in Python
    from vector_graph_rag_spark.operators.lm_filter import _hashed_features

    feats = [
        (r["doc_id"], r["bucket"])
        for r in _hashed_features(docs, "text", n_buckets).collect()
    ]
    target_ids = {d for d, (_, s) in rows.items() if s == "src0"}
    c_t: dict[int, int] = {}
    c_r: dict[int, int] = {}
    per_doc: dict[int, list[int]] = {}
    for doc_id, b in feats:
        (c_t if doc_id in target_ids else c_r)[b] = (
            c_t if doc_id in target_ids else c_r
        ).get(b, 0) + 1
        per_doc.setdefault(doc_id, []).append(b)
    n_t, n_r = sum(c_t.values()), sum(c_r.values())
    expect = {}
    for doc_id, bs in per_doc.items():
        if doc_id in target_ids:
            continue
        wt = sum(
            math.log((c_t.get(b, 0) + alpha) / (n_t + alpha * n_buckets))
            - math.log((c_r.get(b, 0) + alpha) / (n_r + alpha * n_buckets))
            for b in bs
        )
        expect[doc_id] = (len(bs), wt)
    assert set(got) == set(expect)
    for doc_id, (n, wt) in expect.items():
        assert got[doc_id][0] == n
        assert got[doc_id][1] == pytest.approx(wt, rel=1e-9)
    # no target doc is ever weighted
    assert not (set(got) & target_ids)


def test_binary_auc_matches_python_twin_and_ranks_classifier(spark, corpus):
    from vector_graph_rag_spark.operators.lm_filter import (
        binary_auc,
        quality_scores,
        train_quality_classifier,
    )

    docs, rows = corpus
    labeled = docs.withColumn("hq", docs.source == "src0")
    # 2048 buckets: at 128 hash collisions blur the classes (AUC ~0.52);
    # with adequate feature capacity the in-sample AUC reaches ~0.97
    model = train_quality_classifier(labeled, "hq", n_buckets=2048, iters=15)
    scored = quality_scores(docs, model).join(
        labeled.select("doc_id", "hq"), "doc_id"
    )
    auc = binary_auc(scored, "score", "hq")

    # pure-Python twin: average-rank Mann-Whitney on the same scores
    data = [(r["score"], 1 if r["hq"] else 0) for r in scored.collect()]
    data.sort(key=lambda p: p[0])
    ranks: dict[int, float] = {}
    i = 0
    rank_of = [0.0] * len(data)
    while i < len(data):
        j = i
        while j < len(data) and data[j][0] == data[i][0]:
            j += 1
        avg = (i + 1 + j) / 2.0  # mean of ranks i+1 .. j
        for k in range(i, j):
            rank_of[k] = avg
        i = j
    n_pos = sum(y for _, y in data)
    n_neg = len(data) - n_pos
    u = sum(r for r, (_, y) in zip(rank_of, data) if y == 1) - n_pos * (
        n_pos + 1
    ) / 2.0
    expect = u / (n_pos * n_neg)
    assert auc == pytest.approx(expect, rel=1e-12)
    # the in-sample classifier must beat chance comfortably
    assert auc > 0.9

    # degenerate labels refuse
    with pytest.raises(ValueError, match="positive and one negative"):
        binary_auc(scored.withColumn("hq", F.lit(True)), "score", "hq")


def test_lm_prefers_real_text_on_reference_corpus(spark):
    """Semantics pin on the reference's REAL 20-doc corpus: an LM trained on
    the real passages must assign lower cross-entropy to the passages
    themselves than to word-reversed copies (identical unigrams, destroyed
    bigram structure) — i.e. the bigram term is doing the discriminating,
    which is the mechanism CCNet filtering relies on."""
    import json

    corpus_path = (
        "/root/reference/evaluation/data/"
        "openie_test_sample_results_ner_gpt-3.5-turbo-1106_20.json"
    )
    with open(corpus_path) as f:
        passages = [d["passage"] for d in json.load(f)["docs"]]
    rows = [(i, p) for i, p in enumerate(passages)]
    rows += [
        (1000 + i, " ".join(reversed(p.split(" ")))) for i, p in enumerate(passages)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    model = train_bigram_lm(docs.filter("doc_id < 1000"), alpha=ALPHA)
    ce = {r["doc_id"]: r["cross_entropy"] for r in lm_cross_entropy(docs, model).collect()}
    real = [ce[i] for i in range(len(passages))]
    rev = [ce[1000 + i] for i in range(len(passages))]
    assert all(v == v and v != float("inf") for v in real + rev)  # finite
    assert sum(real) / len(real) < sum(rev) / len(rev)
    # and per-document: nearly every passage beats its own reversal
    better = sum(a < b for a, b in zip(real, rev))
    assert better >= 0.9 * len(passages)


def test_dsir_weights_stable_across_parallelism(spark, corpus):
    """Weights must not depend on partitioning: xxhash64 bucketing is
    partition-independent and the per-doc sum is pinned to 1e-12 across a
    repartitioned input (catches any accidental rand()/partition-id leak)."""
    docs, _ = corpus
    tagged = docs.withColumn("is_t", docs.source == "src0")
    a = {
        r["doc_id"]: r["weight"]
        for r in dsir_importance_weights(tagged, "is_t", n_buckets=256).collect()
    }
    b = {
        r["doc_id"]: r["weight"]
        for r in dsir_importance_weights(
            tagged.repartition(3), "is_t", n_buckets=256
        ).collect()
    }
    assert set(a) == set(b)
    for d in a:
        assert a[d] == pytest.approx(b[d], rel=1e-12)


def test_dsir_select_is_deterministic_topn(spark, corpus):
    docs, _ = corpus
    w = dsir_importance_weights(
        docs.withColumn("is_t", docs.source == "src0"), "is_t", n_buckets=256
    )
    top = dsir_select(w, 25).collect()
    assert len(top) == 25
    all_w = sorted(
        ((r["weight"], r["doc_id"]) for r in w.collect()),
        key=lambda p: (-p[0], p[1]),
    )
    assert [r["doc_id"] for r in top] == [d for _, d in all_w[:25]]
    # TakeOrderedAndProject, not a global sort of the full frame
    plan = dsir_select(w, 25)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_lm_filter_plans_stay_jvm_side(spark, corpus):
    """CI plan invariants for the family: zero Python eval nodes, zero
    cartesian products; the DSIR log-ratio join broadcasts its fixed-size
    side."""
    docs, _ = corpus
    model = train_bigram_lm(docs.filter("source = 'src0'"), alpha=ALPHA)
    ce_plan = (
        lm_cross_entropy(docs, model)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    w = dsir_importance_weights(
        docs.withColumn("is_t", docs.source == "src0"), "is_t", n_buckets=256
    )
    w_plan = w._jdf.queryExecution().executedPlan().toString()
    for plan in (ce_plan, w_plan):
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in w_plan  # log-ratio table rides a broadcast


def test_empty_corpus_robustness(spark):
    from vector_graph_rag_spark.operators.lm_filter import (
        train_quality_classifier,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    model = train_bigram_lm(empty, alpha=ALPHA)
    assert model["vocab_size"] == 0 and model["total_tokens"] == 0
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "c")], "doc_id long, text string"
    )
    scored = lm_cross_entropy(docs, model, lam=LAM).collect()
    # every token falls to the smoothed unseen-class mass: entropy is the
    # same finite constant per token
    expect = -math.log2((1 - LAM) * 1.0)  # unseen_p = alpha/(0 + alpha*1) = 1
    assert {r["doc_id"]: r["cross_entropy"] for r in scored} == {
        1: pytest.approx(expect),
        2: pytest.approx(expect),
    }
    with pytest.raises(ValueError, match="no labeled documents"):
        train_quality_classifier(
            empty.withColumn("hq", F.lit(True)), "hq", n_buckets=8, iters=1
        )


def test_quality_classifier_matches_python_gd_twin(spark, corpus):
    from vector_graph_rag_spark.operators.lm_filter import (
        _doc_features,
        quality_scores,
        train_quality_classifier,
    )

    docs, rows = corpus
    n_buckets, iters, lr, l2 = 256, 10, 2.0, 1e-4
    labeled = docs.withColumn("hq", docs.source == "src0")
    model = train_quality_classifier(
        labeled, "hq", n_buckets=n_buckets, iters=iters, lr=lr, l2=l2
    )
    got = {r["doc_id"]: r["score"] for r in quality_scores(docs, model).collect()}

    # twin: reuse Spark's feature stream, replay the identical full-batch GD
    feats: dict[int, list[tuple[int, float]]] = {}
    for r in _doc_features(docs, "text", n_buckets).collect():
        feats.setdefault(r["doc_id"], []).append((r["bucket"], r["x"]))
    # every labeled doc participates (feature-less docs still move the bias)
    ys = {d: 1.0 if s == "src0" else 0.0 for d, (_, s) in rows.items()}
    feats = {d: feats.get(d, []) for d in ys}
    n_docs = len(ys)
    w: dict[int, float] = {}
    bias = 0.0
    for _ in range(iters):
        grad: dict[int, float] = {}
        gb = 0.0
        for d, y in ys.items():
            m = sum(x * w.get(b, 0.0) for b, x in feats[d]) + bias
            r_ = 1.0 / (1.0 + math.exp(-m)) - y
            gb += r_
            for b, x in feats[d]:
                grad[b] = grad.get(b, 0.0) + x * r_
        for b, g in grad.items():
            w[b] = w.get(b, 0.0) - lr * (g / n_docs + l2 * w.get(b, 0.0))
        bias -= lr * gb / n_docs
    assert model["bias"] == pytest.approx(bias, rel=1e-6, abs=1e-9)
    for b, wb in w.items():
        assert model["weights"].get(b, 0.0) == pytest.approx(
            wb, rel=1e-6, abs=1e-9
        )
    for d in ys:
        if not feats[d]:  # feature-less docs get no score row
            assert d not in got
            continue
        m = sum(x * w.get(b, 0.0) for b, x in feats[d]) + bias
        assert got[d] == pytest.approx(1.0 / (1.0 + math.exp(-m)), rel=1e-6)
    # and it learned something: positives score higher in-sample
    pos = [got[d] for d, y in ys.items() if y == 1.0 and d in got]
    neg = [got[d] for d, y in ys.items() if y == 0.0 and d in got]
    assert sum(pos) / len(pos) > sum(neg) / len(neg)


def test_dsir_null_labels_are_excluded_consistently(spark, corpus):
    """ADVICE r5: NULL-labeled rows must not count toward the raw
    distribution (they produce no output weight either) — the weights with
    NULL-labeled rows present must equal the weights after dropping those
    rows entirely."""
    docs, _ = corpus
    labeled = docs.withColumn(
        "is_t",
        F.when(docs.doc_id % 5 == 0, F.lit(None).cast("boolean")).otherwise(
            docs.source == "src0"
        ),
    )
    with_nulls = {
        r["doc_id"]: (r["n_features"], r["weight"])
        for r in dsir_importance_weights(labeled, "is_t", n_buckets=512).collect()
    }
    dropped = {
        r["doc_id"]: (r["n_features"], r["weight"])
        for r in dsir_importance_weights(
            labeled.filter(F.col("is_t").isNotNull()), "is_t", n_buckets=512
        ).collect()
    }
    assert set(with_nulls) == set(dropped)
    for k in dropped:
        assert with_nulls[k][0] == dropped[k][0]
        assert with_nulls[k][1] == pytest.approx(dropped[k][1], rel=1e-12)


def test_binary_auc_round_to_bounds_and_matches_rounded_twin(spark, corpus):
    """round_to quantizes scores BEFORE grouping: the result must equal the
    python twin computed on the rounded scores (and differ from the raw
    twin when rounding merges near-ties)."""
    from vector_graph_rag_spark.operators.lm_filter import binary_auc

    docs, _ = corpus
    # prime denominator: x/997 never hits a decimal halfway point, so
    # Spark's HALF_UP round and Python's round agree on every value
    scored = docs.select(
        "doc_id",
        (F.pmod(F.xxhash64("text"), F.lit(997)) / F.lit(997.0)).alias("score"),
        (docs.source == "src0").alias("y"),
    )
    got = binary_auc(scored, "score", "y", round_to=2)
    data = [
        (round(r["score"], 2), 1 if r["y"] else 0) for r in scored.collect()
    ]
    data.sort(key=lambda p: p[0])
    i, rank_of = 0, [0.0] * len(data)
    while i < len(data):
        j = i
        while j < len(data) and data[j][0] == data[i][0]:
            j += 1
        for k in range(i, j):
            rank_of[k] = (i + 1 + j) / 2.0
        i = j
    n_pos = sum(y for _, y in data)
    n_neg = len(data) - n_pos
    u = sum(r for r, (_, y) in zip(rank_of, data) if y == 1) - n_pos * (n_pos + 1) / 2.0
    assert got == pytest.approx(u / (n_pos * n_neg), rel=1e-12)


def test_quantized_classifier_is_partitioning_invariant(spark, corpus):
    """ADVICE r6: unquantized GD sums can flip the 6th decimal under float
    reassociation.  With quantized=True every cross-row sum is a
    DECIMAL(18,6) of pre-rounded terms, so training + scoring must be
    BIT-identical across partitionings — and stay within 1e-4 of the
    unquantized path."""
    from vector_graph_rag_spark.operators.lm_filter import (
        quality_scores,
        train_quality_classifier,
    )

    docs, _ = corpus
    labeled = docs.withColumn("hq", F.col("source") == "src0")

    def run(df):
        m = train_quality_classifier(
            df, "hq", n_buckets=256, iters=2, portable_hash=True,
            quantized=True,
        )
        return {r["doc_id"]: r["score"] for r in quality_scores(docs, m).collect()}

    s1 = run(labeled.repartition(1))
    s32 = run(labeled.repartition(32, "doc_id"))
    assert s1 == s32  # bit-identical, not approx
    m_raw = train_quality_classifier(
        labeled, "hq", n_buckets=256, iters=2, portable_hash=True
    )
    raw = {r["doc_id"]: r["score"] for r in quality_scores(docs, m_raw).collect()}
    for d in raw:
        assert s1[d] == pytest.approx(raw[d], abs=1e-4)


def test_registered_binary_auc_bounds_driver_histogram(spark, monkeypatch):
    """ADVICE r6: the registered query must pass round_to so the collected
    histogram is bounded for continuous scores — captured at the call site
    so a future refactor can't silently drop it."""
    import vector_graph_rag_spark.operators.lm_filter as lmf
    from vector_graph_rag_spark.queries.lmfilter import binary_auc_q

    seen = {}
    real = lmf.binary_auc_with_counts

    def spy(df, score_col, label_col, round_to=None):
        seen["round_to"] = round_to
        return real(df, score_col, label_col, round_to)

    monkeypatch.setattr(lmf, "binary_auc_with_counts", spy)
    out = binary_auc_q(spark, "/root/testdata/sf0.001").collect()
    assert seen["round_to"] == 6
    assert len(out) == 1 and 0.0 <= out[0]["auc"] <= 1.0


def test_perplexity_buckets_rejects_null_scores(spark):
    from vector_graph_rag_spark.operators.lm_filter import perplexity_buckets

    df = spark.createDataFrame(
        [(0, 5, 1.0), (1, 5, None)], "doc_id long, n_tokens long, cross_entropy double"
    )
    with pytest.raises(ValueError, match="contains NULLs"):
        perplexity_buckets(df)


@pytest.mark.parametrize("quantized", [False, True])
def test_out_of_range_bucket_contributes_zero_weight(spark, quantized):
    """Precomputed features hashed with more buckets than the model's
    ``n_buckets`` score as if the out-of-range buckets had weight 0.0 —
    neither an error nor a NULL margin."""
    from vector_graph_rag_spark.operators.lm_filter import quality_scores

    model = {
        "weights": {0: 1.0, 1: 2.0},
        "bias": 0.0,
        "n_buckets": 2,
        "text_col": "text",
        "quantized": quantized,
    }
    grouped = spark.createDataFrame(
        [(1, [(0, 0.5), (7, 0.5)]), (2, [(1, 1.0)])],
        "doc_id long, fs array<struct<bucket:int,x:double>>",
    )
    got = {
        r["doc_id"]: r["score"]
        for r in quality_scores(None, model, grouped_features=grouped).collect()
    }
    assert got[1] == pytest.approx(1.0 / (1.0 + math.exp(-0.5)))
    assert got[2] == pytest.approx(1.0 / (1.0 + math.exp(-2.0)))

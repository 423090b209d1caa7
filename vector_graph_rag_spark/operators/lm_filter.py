"""Model-based quality filtering — the published corpus-selection
techniques a pretraining pipeline runs after the rule-based passes
(`queries/curation.py`):

- **CCNet-style n-gram LM perplexity** (Wenzek et al. 2020): train a small
  language model on a trusted corpus, score every candidate document by its
  per-token cross-entropy under that model, and bucket the corpus into
  head / middle / tail quality tiers.  Here the LM is an interpolated
  bigram model with add-alpha unigram smoothing — the dataflow (train =
  n-gram counting, score = n-gram join + per-doc mean) is identical to the
  KenLM 5-gram the paper uses, and swapping the model is a parameter change,
  not a plan change.
- **DSIR hashed n-gram importance weights** (Xie et al. 2023, "Data
  Selection for Language Models via Importance Resampling"): hash word
  bigrams into a fixed number of buckets, fit bag-of-buckets unigram
  distributions over a *target* set and the *raw* pool, and weight each raw
  document by its log-likelihood ratio sum.  Selection keeps the
  highest-weight documents.
- **GPT-3-style quality classifier** (Brown et al. 2020, appendix A):
  logistic regression on the same hashed features discriminating trusted
  exemplars from the raw pool, trained full-batch as DataFrame
  aggregations; plus streaming scoring of a document file-stream with the
  frozen model.

Since round 6 the family is driver-registered behind DuckDB hash oracles
(`queries/lmfilter.py`: portable md5 feature hashing + DECIMAL-quantized
sums make the float dataflows cross-engine exact) IN ADDITION to the
pure-Python twin tests here-adjacent (`tests/test_lm_filter.py`); the
registry stayed at 100 = 2 x driver-window by retiring redundant sibling
queries (COVERAGE.md §"retired queries").

Scale design (the reason these shapes survive 100 TB):

- LM **training** is n-gram counting: explode + one map-side-combined
  ``groupBy`` per order.  The model tables are vocab-sized, not
  corpus-sized.
- LM **scoring** joins the corpus bigram stream against the model tables on
  the n-gram key.  Stop-word bigrams are the classic skew key — AQE
  skew-join splitting handles them (session default), and the unigram side
  is broadcast when the vocab fits under the threshold.
- **DSIR** is the aggressively cheap one by construction: the feature space
  is a *fixed* ``n_buckets`` (default 10k), so both distribution tables and
  the per-bucket log-ratio table are tiny and **broadcast**; per-document
  weighting is explode -> broadcast join -> one ``groupBy(doc)`` sum.  One
  corpus shuffle total, independent of vocabulary size — that is the point
  of hashed features at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.hashing import hash60
from vector_graph_rag_spark.functions.text import tokens

_BOS = "\x02"  # sentence-start pseudo-token, cannot occur in whitespace tokens


def _unigrams(docs: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, tok) stream, one row per token occurrence."""
    return docs.select(
        "doc_id", F.explode(tokens(text_col)).alias("tok")
    )


def _bigrams(docs: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, prev, tok) stream with a BOS row per document.

    Built row-locally with ``zip_with`` over the token array and a shifted
    copy — no window, no shuffle; the array is bounded by document length.
    """
    toks = docs.select("doc_id", tokens(text_col).alias("ts")).filter(
        F.size("ts") > 0
    )
    shifted = F.concat(F.array(F.lit(_BOS)), F.slice("ts", 1, F.size("ts") - 1))
    pairs = F.zip_with(
        shifted, "ts", lambda p, t: F.struct(p.alias("prev"), t.alias("tok"))
    )
    return toks.select("doc_id", F.explode(pairs).alias("pr")).select(
        "doc_id", "pr.prev", "pr.tok"
    )


def train_bigram_lm(
    docs: DataFrame, text_col: str = "text", alpha: float = 0.1
) -> dict:
    """Count-based interpolated bigram LM from a trusted corpus.

    Returns ``{"uni": DF(tok, p_uni), "bi": DF(prev, tok, c_bi, c_prev),
    "vocab_size": int, "total_tokens": int, "alpha": float}``.  Unigram
    probabilities are
    add-``alpha`` smoothed over the observed vocab + 1 (the unseen class),
    so every token — including ones never seen in training — has positive
    mass.  Two shuffles total (one count per order), both map-side combined;
    model tables are vocab-sized.
    """
    # lazy checkpoints (r17): uni_counts feeds the totals collect AND the
    # p_uni projection; bi feeds the context agg AND the join side — the
    # full corpus tokenize+count pipeline executed twice per table without
    # the cut (nothing dedupes repeated subtrees at runtime).  The totals
    # collect below materializes uni_counts; the model consumer's first
    # action materializes bi.
    uni_counts = (
        _unigrams(docs, text_col)
        .groupBy("tok")
        .agg(F.count("*").alias("c_uni"))
        .localCheckpoint(eager=False)
    )
    bi = (
        _bigrams(docs, text_col)
        .groupBy("prev", "tok")
        .agg(F.count("*").alias("c_bi"))
        .localCheckpoint(eager=False)
    )
    # context totals: BOS contexts come from the bigram table itself so the
    # BOS pseudo-token needs no unigram row
    ctx = bi.groupBy("prev").agg(F.sum("c_bi").alias("c_prev"))
    bi = bi.join(ctx, "prev")
    total, vocab = uni_counts.agg(
        F.sum("c_uni").alias("t"), F.count("*").alias("v")
    ).collect()[0]
    total, vocab = total or 0, vocab or 0  # empty training corpus →
    # degenerate-but-valid model: every token scores the smoothed unseen mass
    uni = uni_counts.select(
        "tok",
        (
            (F.col("c_uni") + F.lit(alpha))
            / F.lit(float(total) + alpha * (int(vocab) + 1))
        ).alias("p_uni"),
    )
    return {
        "uni": uni,
        "bi": bi,
        "vocab_size": int(vocab),
        "total_tokens": int(total),
        "alpha": float(alpha),
    }


def lm_cross_entropy(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    lam: float = 0.7,
    quantized: bool = False,
) -> DataFrame:
    """Per-document cross-entropy (bits/token) under the trained LM.

    p(tok | prev) = lam * c_bi/c_prev  +  (1-lam) * p_uni(tok), with the
    bigram term 0 for unseen (prev, tok) and p_uni falling back to the
    smoothed unseen-class mass for out-of-vocab tokens — every token gets
    positive probability, so the entropy is always finite.

    Output: (doc_id, n_tokens, cross_entropy) — lower = more in-domain.
    Plan: corpus bigram stream joined left against the two model tables on
    their n-gram keys (AQE splits hot stop-word keys), then one
    ``groupBy(doc_id)`` mean.

    ``quantized=True`` rounds each per-bigram bit count to 6 decimals and
    sums as DECIMAL(18,6) — an exact, add-order-independent aggregation
    (within 1e-6/token of the float path) so the result hash-matches the
    DuckDB oracle under any partitioning.  Same plan shape either way.
    """
    alpha = model["alpha"]
    unseen_p = alpha / (
        model["total_tokens"] + alpha * (model["vocab_size"] + 1)
    )
    grams = _bigrams(docs, text_col)
    scored = (
        grams.join(model["bi"], ["prev", "tok"], "left")
        .join(model["uni"], "tok", "left")
        .select(
            "doc_id",
            (
                F.lit(lam)
                * F.coalesce(F.col("c_bi") / F.col("c_prev"), F.lit(0.0))
                + F.lit(1.0 - lam)
                * F.coalesce("p_uni", F.lit(unseen_p))
            ).alias("p"),
        )
    )
    if quantized:
        bits = F.round(-F.log2("p"), 6).cast("decimal(18,6)")
        return scored.groupBy("doc_id").agg(
            F.count("*").alias("n_tokens"),
            (F.sum(bits).cast("double") / F.count("*")).alias("cross_entropy"),
        )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        (-F.avg(F.log2("p"))).alias("cross_entropy"),
    )


def perplexity_buckets(
    scores: DataFrame,
    head_frac: float = 1 / 3,
    tail_frac: float = 1 / 3,
    round_to: int = 6,
) -> DataFrame:
    """CCNet head/middle/tail tiers by exact cross-entropy rank — grouped-
    histogram formulation, no global sort (r6 verdict de-weak: the prior
    body was one ``Window.orderBy`` over the whole corpus, a
    single-partition sort at scale).

    Rank order is ``(round(cross_entropy, round_to), doc_id)`` — rounding
    bounds the distinct-score space (score-range × 10^round_to groups) the
    same way the AUC histogram is bounded; ties at the rounded score break
    by doc_id, so the split is exact and stable under any partitioning.

    Plan (the ``binary_auc`` reformulation applied to rank cuts):

    1. ONE map-side-combined ``groupBy(rounded score)`` — the only
       corpus-wide stage; the histogram is bounded, never corpus-sized.
    2. Driver prefix sums over the sorted histogram assign each score
       group its base rank.  Fully-head groups form a prefix of the score
       order and fully-tail groups a suffix (tier is monotone in rank),
       so every group lying entirely inside one tier (all but ≤2 of them)
       resolves through TWO LITERAL score thresholds — a per-row codegen
       comparison, no join, no per-executor tier map (an earlier draft
       broadcast a score→tier map: O(histogram) executor memory, up to
       ~10^7 entries at the round_to bound — the literals are O(1)).
    3. Only the ≤2 boundary groups straddling a cut need intra-group
       doc_id ranks: a ``Window.partitionBy(score)`` over just those rows
       — partitioned by score, never a SinglePartition stage
       (CI-asserted in ``tests/test_plans.py``).

    The per-row percent rank ``(r-1)/(N-1)`` and the tier comparisons use
    the same IEEE double operations the window formulation computed, so
    tiers are bit-identical to ``percent_rank() OVER (ORDER BY
    round(ce, round_to), doc_id)`` — the DuckDB oracle runs exactly that.
    :func:`perplexity_buckets_approx` stays as the sketched variant for
    pipelines that tolerate approximate cut points.

    The input is eagerly ``localCheckpoint``-ed first: both the histogram
    pass and the tier join consume it, and ``scores`` is typically the
    full LM-scoring pipeline — without materialization that upstream work
    would run twice (measured +2.4s at sf0.1 when this operator re-ran the
    CE pipeline per pass).  One narrow row per document, the same
    multi-pass pattern as the PPR/CC iterative kernels.
    """
    # lazy (r17): the histogram collect right below materializes it —
    # same lineage cut, one fewer job
    scores = scores.localCheckpoint(eager=False)
    hi_cut = 1.0 - tail_frac
    h = F.round("cross_entropy", round_to)
    hist = scores.groupBy(h.alias("h")).agg(F.count("*").alias("cnt")).collect()
    if any(r["h"] is None for r in hist):
        # lm_cross_entropy never yields NULL (every token has positive
        # probability); a NULL here means a broken upstream — fail with a
        # named cause rather than an ambiguous rank
        raise ValueError(
            "perplexity_buckets: cross_entropy contains NULLs — rank-based "
            "tiers are undefined for unscored documents (filter them first)"
        )
    hist = sorted(hist, key=lambda r: r["h"])
    n = sum(r["cnt"] for r in hist)

    def tier_of(pr: float) -> str:
        if pr < head_frac:
            return "head"
        if pr >= hi_cut:
            return "tail"
        return "middle"

    head_max: float | None = None  # largest score of a fully-head group
    tail_min: float | None = None  # smallest score of a fully-tail group
    boundary: list[tuple[float, int]] = []  # (score, base rank) straddling a cut
    base = 0
    for r in hist:
        cnt = r["cnt"]
        if n <= 1:
            t_lo = t_hi = tier_of(0.0)  # percent_rank of 1 row = 0
        else:
            t_lo = tier_of(base / (n - 1))
            t_hi = tier_of((base + cnt - 1) / (n - 1))
        if t_lo != t_hi:
            boundary.append((r["h"], base))
        elif t_lo == "head":
            head_max = r["h"]
        elif t_lo == "tail" and tail_min is None:
            tail_min = r["h"]
        base += cnt

    spark = scores.sparkSession
    scored = scores.withColumn("h", h)
    bscores = [hh for hh, _ in boundary]
    tier = F.lit("middle")
    if tail_min is not None:
        tier = F.when(F.col("h") >= tail_min, "tail").otherwise(tier)
    if head_max is not None:
        tier = F.when(F.col("h") <= head_max, "head").otherwise(tier)
    main = scored.filter(~F.col("h").isin(bscores) if bscores else F.lit(True)).select(
        "doc_id", "n_tokens", "cross_entropy", tier.alias("tier")
    )
    if not boundary:
        return main
    from vector_graph_rag_spark.functions.literals import inline_rows

    bmap = inline_rows(spark, boundary, "h double, base long")
    w = Window.partitionBy("h").orderBy("doc_id")
    bd = (
        scored.join(F.broadcast(bmap), "h")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "pr",
            (F.col("base") + F.col("rn") - F.lit(1)) / F.lit(float(n - 1)),
        )
        .select(
            "doc_id",
            "n_tokens",
            "cross_entropy",
            F.when(F.col("pr") < head_frac, "head")
            .when(F.col("pr") >= hi_cut, "tail")
            .otherwise("middle")
            .alias("tier"),
        )
    )
    return main.unionByName(bd)


def perplexity_buckets_approx(
    scores: DataFrame,
    head_frac: float = 1 / 3,
    tail_frac: float = 1 / 3,
    accuracy: int = 10_000,
) -> DataFrame:
    """Scale path for :func:`perplexity_buckets`: cut points from the
    t-digest ``approx_percentile`` sketch (one map-side-combined pass, no
    global sort), tiers by broadcast scalar thresholds — a per-row
    comparison, embarrassingly parallel.  Tier boundaries can differ from
    the exact variant by the sketch error (~1/accuracy of the rank space);
    tier semantics are otherwise identical.
    """
    lo, hi = scores.agg(
        F.percentile_approx(
            "cross_entropy",
            F.array(F.lit(head_frac), F.lit(1.0 - tail_frac)),
            accuracy,
        ).alias("cuts")
    ).collect()[0]["cuts"]
    return scores.select(
        "doc_id",
        "n_tokens",
        "cross_entropy",
        F.when(F.col("cross_entropy") < lo, "head")
        .when(F.col("cross_entropy") > hi, "tail")
        .otherwise("middle")
        .alias("tier"),
    )


# --- DSIR ------------------------------------------------------------------


def _hashed_features(
    docs: DataFrame, text_col: str, n_buckets: int, portable: bool = False
) -> DataFrame:
    """(doc_id, bucket) stream: word bigrams hashed into ``n_buckets``.

    Default hash is ``xxhash64`` (stable across sessions/partitionings) on
    the joined bigram text; ``portable=True`` switches to the md5-derived
    :func:`hash60` that DuckDB computes identically — the oracle-checkable
    variant the registered queries use (same plan, ~2x the hash cost).
    ``pmod`` keeps the bucket non-negative either way.
    """
    joined = F.concat_ws("\x01", "prev", "tok")
    h = hash60(joined) if portable else F.xxhash64(joined)
    return _bigrams(docs, text_col).select(
        "doc_id", F.pmod(h, F.lit(n_buckets)).alias("bucket")
    )


def dsir_importance_weights(
    docs: DataFrame,
    is_target: str,
    text_col: str = "text",
    n_buckets: int = 10_000,
    alpha: float = 1.0,
    portable_hash: bool = False,
    quantized: bool = False,
) -> DataFrame:
    """Per-document DSIR importance weight over the raw (non-target) pool.

    ``is_target`` names a boolean column: True rows define the target
    distribution (the domain you want more of), False rows are the raw pool
    being weighted.  Each raw document gets
    ``weight = sum_over_features log(p_target(bucket) / p_raw(bucket))``
    with add-``alpha`` smoothing over the fixed bucket space.

    Output: (doc_id, n_features, weight) for raw documents only — higher =
    more target-like.  The bucket-distribution table is ``n_buckets`` rows
    (fixed, tiny) -> broadcast; the whole operator costs one corpus shuffle
    (the final ``groupBy(doc_id)``).

    NULL-labeled rows are excluded up front, so the raw distribution and
    the weighted pool cover exactly the same documents (an ``otherwise(1)``
    over unfiltered labels would count NULL rows toward p_raw while the
    ``~is_target`` output filter dropped them — silently skewing the
    denominator distribution).

    ``portable_hash``/``quantized`` are the oracle-parity knobs (see
    :func:`_hashed_features` / :func:`lm_cross_entropy`): md5-derived
    buckets DuckDB reproduces, and an exact DECIMAL(18,6) weight sum that
    is independent of add order.  Plan shape is unchanged by either.
    """
    labeled = docs.select("doc_id", is_target).filter(
        F.col(is_target).isNotNull()
    )
    # The labeled feature stream feeds three plan instances (the totals
    # action, and — inside the returned plan — the log-ratio table's
    # distribution agg AND the raw-pool weight agg); Spark re-executes
    # duplicated subtrees, so the tokenize+hash pass is materialized once
    # (O(corpus tokens) with disk spill, the stream the operator
    # inherently processes).
    feats = (
        _hashed_features(docs, text_col, n_buckets, portable=portable_hash)
        .join(labeled, "doc_id")
        # lazy (r17): the totals collect below materializes it
        .localCheckpoint(eager=False)
    )
    dist = feats.groupBy("bucket").agg(
        F.sum(F.when(F.col(is_target), 1).otherwise(0)).alias("c_t"),
        F.sum(F.when(F.col(is_target), 0).otherwise(1)).alias("c_r"),
    )
    totals = dist.agg(
        F.sum("c_t").alias("n_t"), F.sum("c_r").alias("n_r")
    ).collect()[0]
    denom_t = float(totals["n_t"]) + alpha * n_buckets
    denom_r = float(totals["n_r"]) + alpha * n_buckets
    lr_expr = F.log((F.col("c_t") + alpha) / denom_t) - F.log(
        (F.col("c_r") + alpha) / denom_r
    )
    if quantized:
        lr_expr = F.round(lr_expr, 6).cast("decimal(18,6)")
    log_ratio = dist.select("bucket", lr_expr.alias("log_ratio"))
    raw_feats = feats.filter(~F.col(is_target))
    weight = F.sum("log_ratio")
    if quantized:
        weight = weight.cast("double")
    return (
        raw_feats.join(F.broadcast(log_ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_features"),
            weight.alias("weight"),
        )
    )


def dsir_select(weights: DataFrame, n: int) -> DataFrame:
    """Keep the ``n`` highest-weight documents, deterministically.

    The paper samples with Gumbel noise; a training pipeline that must be
    reproducible across retries uses the deterministic top-n (ties broken
    by doc_id).  Plans as ``TakeOrderedAndProject`` — per-partition local
    top-n, no global sort.
    """
    return weights.orderBy(F.desc("weight"), F.asc("doc_id")).limit(n)


# --- GPT-3/WebText-style quality classifier --------------------------------


def _doc_features(
    docs: DataFrame, text_col: str, n_buckets: int, portable: bool = False
) -> DataFrame:
    """(doc_id, bucket, x) — per-document length-normalized bucket counts.

    Length normalization (count / doc total) is the standard
    bag-of-features scaling so long documents don't dominate the gradient.
    """
    counts = (
        _hashed_features(docs, text_col, n_buckets, portable=portable)
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("c"))
    )
    doc_tot = counts.groupBy("doc_id").agg(F.sum("c").alias("tot"))
    return counts.join(doc_tot, "doc_id").select(
        "doc_id", "bucket", (F.col("c") / F.col("tot")).alias("x")
    )


def _sum_maybe_quantized(term, quantized: bool):
    """Sum a per-row float term; ``quantized`` rounds each term to 6
    decimals and sums as DECIMAL(18,6) — exact and add-order-independent,
    so the result cannot flip with partitioning (the same contract as the
    LM/DSIR quantized sums; ADVICE r6 flagged the GD sums as the one float
    aggregation without it)."""
    if quantized:
        return F.sum(F.round(term, 6).cast("decimal(18,6)")).cast("double")
    return F.sum(term)


def _weight_lookup(w: dict[int, float], n_buckets: int):
    """bucket-column -> weight Column, against the weight vector as a
    DENSE broadcast-literal ARRAY (length ``n_buckets``, missing buckets
    0.0), one JVM-parsed literal (functions/literals.py).  The r17 form
    was a MAP literal — ``GetMapValue`` on a literal map is a LINEAR scan
    of all entries per lookup (512 comparisons per feature element;
    measured as the entire gap between the iter-1 and iter-2 gradient
    jobs), where ``element_at`` on the dense array is O(1).  Values are
    the identical doubles (`repr` round-trip), buckets are
    ``pmod``-bounded in [0, n_buckets), and the sentinel bucket −1 (and
    the old map's missing-key NULL) resolves to the same 0.0 — so every
    margin term multiplies the same operands and the fold stays
    bit-identical.  A bucket >= ``n_buckets`` (features hashed with a
    different bucket count than the model's) also contributes 0.0: the
    out-of-range lookup is NULL (``try_element_at``, ANSI-safe) and is
    coalesced, instead of erroring or NULLing the whole margin."""
    from vector_graph_rag_spark.functions.literals import double_array_lit

    warr = double_array_lit([w.get(i, 0.0) for i in range(n_buckets)])

    def look(bucket) -> Column:
        return F.when(
            bucket >= 0,
            F.coalesce(
                F.try_element_at(warr, bucket.cast("int") + 1), F.lit(0.0)
            ),
        ).otherwise(F.lit(0.0))

    return look


def _rowlocal_margin(
    fs_col: str, w: dict[int, float], n_buckets: int, quantized: bool
) -> Column:
    """sum(x * w[bucket]) over a per-doc (bucket, x) struct array — the
    margin as a ROW-LOCAL fold against the broadcast weight vector, no
    join and no shuffle.  The quantized form keeps the exact
    DECIMAL(18,6) term arithmetic of :func:`_sum_maybe_quantized`, whose
    sums are add-order-independent — so the fold is bit-identical to the
    previous groupBy formulation (verified exactly at sf0.1)."""
    look = _weight_lookup(w, n_buckets)
    if quantized:
        return F.aggregate(
            fs_col,
            F.lit(0).cast("decimal(18,6)"),
            lambda acc, f: (
                acc
                + F.round(f["x"] * look(f["bucket"]), 6).cast("decimal(18,6)")
            ).cast("decimal(18,6)"),
        ).cast("double")
    return F.aggregate(
        fs_col,
        F.lit(0.0),
        lambda acc, f: acc + f["x"] * look(f["bucket"]),
    )



def group_doc_features(feats: DataFrame) -> DataFrame:
    """(doc_id, fs array<struct<bucket,x>>) — the per-document grouped form
    of a (doc_id, bucket, x) feature stream.  Group ONCE and share: both
    :func:`train_quality_classifier` and :func:`quality_scores` accept the
    grouped frame via ``grouped_features``, so a train-then-score-the-same-
    corpus caller pays the grouping shuffle a single time."""
    return feats.groupBy("doc_id").agg(
        F.collect_list(F.struct("bucket", "x")).alias("fs")
    )


def grouped_doc_features(
    docs: DataFrame, text_col: str, n_buckets: int, portable: bool = False
) -> DataFrame:
    """Fused ``group_doc_features(_doc_features(...))`` (r17, guide §2.4):
    the two-step form paid a (doc_id, bucket) count Exchange, a doc-total
    Exchange, a doc_id join to attach the total, then the grouping
    Exchange — FOUR shuffle boundaries of the same stream.  Here the
    (doc_id, bucket) counts group straight to one row per doc carrying
    both the (bucket, c) list and the total, and the length normalization
    ``x = c / tot`` becomes a row-local transform — TWO Exchanges, with
    the identical double division per element."""
    counts = (
        _hashed_features(docs, text_col, n_buckets, portable=portable)
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("c"))
    )
    return counts.groupBy("doc_id").agg(
        F.collect_list(F.struct("bucket", "c")).alias("cs"),
        F.sum("c").alias("tot"),
    ).select(
        "doc_id",
        F.transform(
            "cs",
            lambda s: F.struct(
                s["bucket"].alias("bucket"),
                (s["c"] / F.col("tot")).alias("x"),
            ),
        ).alias("fs"),
    )


def train_quality_classifier(
    docs: DataFrame,
    label: str,
    text_col: str = "text",
    n_buckets: int = 10_000,
    iters: int = 25,
    lr: float = 2.0,
    l2: float = 1e-4,
    portable_hash: bool = False,
    quantized: bool = False,
    features: DataFrame | None = None,
    grouped_features: DataFrame | None = None,
) -> dict:
    """Logistic-regression quality classifier on hashed bigram features —
    the GPT-3 appendix-A "trained to discriminate WebText from raw Common
    Crawl" filter, trained as full-batch gradient descent expressed in
    DataFrame aggregations.

    ``label`` names a boolean column (True = high-quality exemplar).  Per
    iteration: scores = feature-stream join against the **broadcast** weight
    table + one ``groupBy(doc_id)`` sum; gradient = residual-weighted
    feature stream + one ``groupBy(bucket)`` sum, collected as ``n_buckets``
    rows.  The bias gradient rides the SAME aggregation as a sentinel
    bias-feature row (bucket −1, x = 1.0) per labeled document, so each
    iteration is exactly ONE Spark action — the r5 shape collected the
    bucket gradients and the bias gradient separately, recomputing the
    margin join twice per iteration (2× the work, measured).  Sentinel rows
    cannot perturb margins or scores: bucket −1 never enters the weight
    table, so their contribution is exactly ``1.0 * 0.0``.  Driver state is
    the weight vector (``n_buckets`` floats + bias) — never corpus-sized;
    the feature stream is computed once, persisted, and shuffled exactly
    twice per iteration.

    Returns ``{"weights": {bucket: w}, "bias": float, ...}``.  Deterministic:
    float adds are reassociated only inside Spark's fixed-plan partial
    aggregation, and the twin test pins results at 1e-6.
    """
    if grouped_features is not None:
        grouped = grouped_features
    elif features is not None:
        grouped = group_doc_features(features)
    else:
        grouped = grouped_doc_features(
            docs.select("doc_id", text_col), text_col, n_buckets,
            portable=portable_hash,
        )
    labels = docs.select(
        "doc_id", F.col(label).cast("double").alias("y")
    ).filter(F.col("y").isNotNull())
    # Per-doc grouped features (ONE grouping shuffle, shareable with
    # scoring via ``grouped_features``), with the bias sentinel appended
    # ROW-LOCALLY as the array's last element: sum(x*r) over bucket -1 IS
    # the bias gradient, so each iteration is one collect; bucket -1 never
    # enters the weight map, so sentinels cannot perturb margins.  Labeled
    # docs with no features (empty text) ride the left join with an empty
    # array + sentinel.  Margins fold ROW-LOCALLY against the broadcast
    # weight map — one shuffle per iteration (the gradient explode,
    # map-side-combined to n_buckets x partitions rows).  Weights are
    # bit-identical to the r7 join+groupBy formulation: quantized
    # DECIMAL(18,6) term sums are add-order-independent (verified
    # max-diff 0.0 at sf0.1).
    et = grouped.schema["fs"].dataType.elementType
    sentinel = F.struct(
        F.lit(-1).cast(et["bucket"].dataType).alias("bucket"),
        F.lit(1.0).cast(et["x"].dataType).alias("x"),
    )
    doc_feats = (
        labels.join(grouped, "doc_id", "left")
        .select(
            "doc_id",
            "y",
            F.concat(
                F.coalesce("fs", F.array().cast(grouped.schema["fs"].dataType)),
                F.array(sentinel),
            ).alias("fs"),
        )
        # CPU-bound loop frame: AQE's byte-based coalescing folds the
        # (KB-sized) joined frame to ONE partition, serializing every
        # gradient pass's explode+fold on a single core (measured: grad
        # passes 0.52+0.85s at 1 partition vs 0.23+0.33s at par//4 on 32
        # cores).  Pin the checkpoint's layout to a cluster-derived count
        # instead — the per-element fold work, not the bytes, is the cost
        # (guide §2).  Gradient sums are exact DECIMAL (quantized) /
        # 1e-6-pinned partial aggregation (float), so layout cannot
        # change results.
        .repartition(max(2, docs.sparkSession.sparkContext.defaultParallelism // 4))
        # lazy (r17): the first iteration's gradient collect materializes
        # it (r18: the former dedicated n_docs count() job is gone —
        # every labeled doc carries exactly one bucket −1 sentinel row,
        # so n_docs falls out of the same gradient aggregation)
        .localCheckpoint(eager=False)
    )
    n_docs = 0  # learned from the first gradient collect's sentinel count
    if iters <= 0:
        n_docs = doc_feats.count()
        if n_docs == 0:
            raise ValueError("train_quality_classifier: no labeled documents")
    w: dict[int, float] = {}
    bias = 0.0
    for _ in range(iters):
        # first iteration: every weight is 0, so the margin fold is a
        # per-feature map-lookup chain of exact zeros — skip it (the
        # quantized fold's 0-decimal -> double cast is exactly 0.0, so
        # the shortcut is bit-identical)
        if not w:
            m = F.lit(0.0)
        else:
            m = _rowlocal_margin("fs", w, n_buckets, quantized)
        resid = doc_feats.select(
            "fs",
            (
                F.lit(1.0) / (F.lit(1.0) + F.exp(-(m + F.lit(bias))))
                - F.col("y")
            ).alias("r"),
        )
        grad_rows = (
            resid.select(F.explode("fs").alias("f"), "r")
            .groupBy(F.col("f.bucket").alias("bucket"))
            .agg(
                _sum_maybe_quantized(
                    F.col("f.x") * F.col("r"), quantized
                ).alias("g"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        if not n_docs:
            # the sentinel bucket rides every labeled doc exactly once,
            # so its group count IS n_docs — no separate count() job
            n_docs = next(
                (int(row["n"]) for row in grad_rows if row["bucket"] == -1), 0
            )
            if n_docs == 0:
                raise ValueError(
                    "train_quality_classifier: no labeled documents"
                )
        grad_b = 0.0
        for row in grad_rows:
            b = row["bucket"]
            if b == -1:
                grad_b = row["g"]
                continue
            w[b] = w.get(b, 0.0) - lr * (
                row["g"] / n_docs + l2 * w.get(b, 0.0)
            )
        bias -= lr * grad_b / n_docs
    return {
        "weights": w,
        "bias": bias,
        "n_buckets": n_buckets,
        "text_col": text_col,
        "portable_hash": portable_hash,
        "quantized": quantized,
    }


def quality_scores(
    docs: DataFrame,
    model: dict,
    features: DataFrame | None = None,
    grouped_features: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, score) — sigmoid quality probability under the trained
    classifier.  One ``groupBy(doc_id)`` to collect each doc's (bucket, x)
    pairs, then a ROW-LOCAL margin fold against the broadcast-literal
    weight map — no join, and the margin itself shuffles nothing (same
    bit-identical arithmetic as training; see :func:`_rowlocal_margin`).

    ``features`` lets a caller scoring the SAME corpus it trained on pass
    the already-materialized (doc_id, bucket, x) stream instead of paying
    the tokenize+hash pass twice (the registered query does)."""
    if grouped_features is not None:
        grouped = grouped_features
    elif features is not None:
        grouped = group_doc_features(features)
    else:
        grouped = grouped_doc_features(
            docs.select("doc_id", model["text_col"]),
            model["text_col"],
            model["n_buckets"],
            portable=model.get("portable_hash", False),
        )
    m = _rowlocal_margin(
        "fs",
        model["weights"],
        model["n_buckets"],
        model.get("quantized", False),
    )
    return (
        grouped.select(
            "doc_id",
            (
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(-(m + F.lit(model["bias"]))))
            ).alias("score"),
        )
    )


def binary_auc_counts(
    df: DataFrame, score_col: str, label_col: str, round_to: int | None = None
) -> DataFrame:
    """(s, n, p) per distinct score: row count and positive count.

    The one corpus-wide stage of the AUC computation — a single map-side-
    combined ``groupBy(score)``.  Everything after it operates on the
    distinct-score frame (cardinality ≪ docs whenever scores are rounded;
    pass ``round_to`` to guarantee it for continuous scores: 6-decimal
    rounding bounds a [0, 1] score space at 10^6 + 1 groups).
    """
    s = F.col(score_col)
    if round_to is not None:
        s = F.round(s, round_to)
    return (
        df.select(s.alias("s"), F.col(label_col).cast("long").alias("y"))
        .groupBy("s")
        .agg(F.count("*").alias("n"), F.sum("y").alias("p"))
    )


def binary_auc_with_counts(
    df: DataFrame, score_col: str, label_col: str, round_to: int | None = None
) -> tuple[float, int, int]:
    """(auc, n_pos, n_neg) from ONE pass: the positive/negative totals fall
    out of the same grouped histogram the rank arithmetic consumes, so
    callers that report class sizes (the registered ``binary_auc`` query)
    don't pay a second scan of the scored frame."""
    groups = binary_auc_counts(df, score_col, label_col, round_to).collect()
    n_pos = sum(r["p"] for r in groups)
    n_tot = sum(r["n"] for r in groups)
    n_neg = n_tot - n_pos
    if n_pos == 0 or n_neg == 0:
        raise ValueError("binary_auc: need at least one positive and one negative")
    cum = 0  # rows with strictly smaller score
    rank_sum = 0.0  # sum of average ranks of the positives
    for row in sorted(groups, key=lambda r: r["s"]):
        rank_sum += row["p"] * (cum + (row["n"] + 1) / 2.0)
        cum += row["n"]
    u = rank_sum - n_pos * (n_pos + 1) / 2.0
    return float(u / (n_pos * n_neg)), int(n_pos), int(n_neg)


def binary_auc(
    df: DataFrame, score_col: str, label_col: str, round_to: int | None = None
) -> float:
    """ROC-AUC of ``score_col`` against boolean ``label_col`` via the
    Mann-Whitney rank-sum (ties get average ranks) — the distributed eval
    for the quality classifier, exact, no sklearn.

    Plan: one map-side-combined ``groupBy(score)`` — the only stage that
    touches the corpus — then the prefix-rank arithmetic over the collected
    distinct-score frame on the driver.  No global sort, no single-partition
    Exchange anywhere (CI-asserted in ``tests/test_plans.py``); driver state
    is the distinct-score histogram, which ``round_to`` bounds for
    continuous scores (the r5 formulation ranked the *corpus* through one
    ``Window.orderBy`` partition — the driver-shaped bottleneck this
    replaces).  The rank arithmetic is exact: group ranks are means of
    consecutive integers (halves at worst), so every term is dyadic and the
    float sums below are the same values the corpus-wide ranking would
    produce.  Returns a Python float; 0.5 = chance, 1.0 = perfect.
    """
    return binary_auc_with_counts(df, score_col, label_col, round_to)[0]


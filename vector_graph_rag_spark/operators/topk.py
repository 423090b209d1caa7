"""Batch vector top-k — the engine's workhorse operator.

Replaces Milvus `search()` (reference milvus.py:346-427; IP metric over
L2-normalized vectors ⇒ cosine, milvus.py:104-111) with a Spark-native
implementation:

- the QUERY side (a handful to a few thousand vectors) is broadcast —
  Milvus's "N queries in one search call" becomes one broadcast hash join,
  no shuffle of the corpus;
- scoring is a JVM-side ``zip_with``/``aggregate`` dot product in double
  (functions/vector.py) — whole-stage codegen, no Python;
- top-k per query = ``row_number() over (partition by query_id order by
  score desc, corpus_id asc)`` — the deterministic tie-break by id is a
  FIXTURES.md §3 requirement the reference doesn't need (Milvus breaks ties
  arbitrarily).

Scale: corpus stays partition-parallel; the only shuffle is the window's
partition-by-query exchange over the *k-bounded-ish* candidate set.  For
very large corpora × many queries, move to the LSH-bucketed variant
(operators/similarity.py) which joins on bucket instead of cross-joining.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.vector import cosine, dot


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    corpus_id: str = "id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    pre_normalized: bool = False,
    score_decimals: int | None = 6,
) -> DataFrame:
    """→ (query_id, corpus_id, score, rank), rank 1..k per query.

    ``pre_normalized=True`` skips norm division (IP == cosine), matching the
    reference's L2-normalize-at-embed-time design (embeddings.py:142-143).
    """
    # Null vectors are unsearchable on either side — Milvus never indexes a
    # row without an embedding and rejects a null query vector; without the
    # corpus filter they'd emit null-score rows that consume top-k slots
    # (nulls sort last under desc, but still rank), and a null query would
    # emit an all-null hit list instead of no hits.
    q = queries.select(
        F.col(query_id).alias("__qid"), F.col(query_vec).alias("__qvec")
    ).filter(F.col("__qvec").isNotNull())
    c = corpus.select(
        F.col(corpus_id).alias(corpus_id), F.col(corpus_vec).alias("__cvec")
    ).filter(F.col("__cvec").isNotNull())
    joined = c.crossJoin(F.broadcast(q))
    score = (
        dot("__cvec", "__qvec") if pre_normalized else cosine("__cvec", "__qvec")
    )
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    w = Window.partitionBy("__qid").orderBy(F.desc("score"), F.asc(corpus_id))
    return (
        joined.withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("__qid").alias(query_id), corpus_id, "score", "rank")
    )


def score_threshold_first_seen_dedup(
    hits: DataFrame,
    threshold: float,
    id_col: str = "id",
    order_cols: tuple[str, ...] = ("query_idx", "rank"),
) -> DataFrame:
    """Score-threshold filter + first-seen dedup across per-query hit lists.

    Reference retriever.py:134-154: iterate each query-entity's hit list in
    order, keep hits with score > threshold, drop ids already seen in an
    earlier list.  "First seen" is Python insertion order there; here it is
    the explicit total order ``order_cols`` (arrival index, then rank), per
    FIXTURES.md §3 determinism rules.  Output keeps one row per id with its
    first arrival position.
    """
    w = Window.partitionBy(id_col).orderBy(*[F.asc(c) for c in order_cols])
    return (
        hits.filter(F.col("score") > threshold)
        .withColumn("__first", F.row_number().over(w))
        .filter(F.col("__first") == 1)
        .drop("__first")
    )

"""Vector-search operator queries (SURVEY §2 #22-25 + ANN scale path).

The reference delegates these to Milvus (milvus.py:346-427).  Here:
- exact top-k = broadcast query side + JVM dot product + window rank
  (operators/topk.py);
- the scale path is LSH: sign-random-projection buckets (deterministic
  literal hyperplanes) prune the candidate set before exact scoring — the
  same exactness/recall trade Milvus's IVF/HNSW index makes (config.py:43-50).

Scores are computed in double and rounded to 6 decimals BEFORE ranking, so
rank order is identical in Spark and DuckDB (FIXTURES.md §3.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.hashing import _A_PARAMS, _B_PARAMS, MERSENNE_P
from vector_graph_rag_spark.functions.vector import cosine
from vector_graph_rag_spark.operators.topk import cosine_topk
from vector_graph_rag_spark.queries import register
from vector_graph_rag_spark.sources.tables import load_table

# DuckDB cosine with the same zero-norm guard as functions/vector.py.
_COS_SQL = (
    "CASE WHEN sqrt(list_dot_product({a},{a})) = 0.0 OR sqrt(list_dot_product({b},{b})) = 0.0 "
    "THEN 0.0 ELSE list_dot_product({a},{b}) / (sqrt(list_dot_product({a},{a})) * sqrt(list_dot_product({b},{b}))) END"
)


def _cos_sql(a: str, b: str) -> str:
    return _COS_SQL.format(a=a, b=b)


# --- exact multi-query top-k (milvus.py:346-373) ----------------------------

_KNN_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cvec FROM embeddings),
scored AS (
  SELECT q.query_id, c.vec_id, round({_cos_sql('c.cvec', 'q.qvec')}, 6) AS score
  FROM c CROSS JOIN q
)
SELECT query_id, vec_id, score, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INT) AS rank
  FROM scored
) WHERE rank <= 20
"""


@register(
    "knn_cosine_topk",
    oracle=_KNN_SQL,
    retired=True,  # retired in the r13 swap — the ranked-cosine kernel is knn_graph_incell's per-vector semantics; scored-frame coverage stays via range_search_radius + grouping family
    description="multi-query exact cosine top-20 (milvus.py:346-373)",
)
def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    return cosine_topk(
        emb, queries, k=20, corpus_id="vec_id", corpus_vec="embedding"
    )


# --- score-threshold filter (retriever.py:134-154 shape) --------------------

_THRESH_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cvec FROM embeddings)
SELECT q.query_id, c.vec_id, round({_cos_sql('c.cvec', 'q.qvec')}, 6) AS score
FROM c CROSS JOIN q
WHERE round({_cos_sql('c.cvec', 'q.qvec')}, 6) > 0.3
"""


@register("similarity_threshold_filter", oracle=_THRESH_SQL, description="score > t filter (retriever.py:134-154)")
def similarity_threshold_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    c = emb.select("vec_id", F.col("embedding").alias("cvec"))
    score = F.round(cosine("cvec", "qvec"), 6)
    return (
        c.crossJoin(F.broadcast(q))
        .withColumn("score", score)
        .filter(F.col("score") > 0.3)
        .select("query_id", "vec_id", "score")
    )


# --- LSH-bucketed ANN (scale path for the Milvus ANN index) -----------------

N_PLANES = 8
_DIM = 64


def _plane(i: int) -> list[float]:
    """Deterministic pseudo-random hyperplane — exact rational arithmetic on
    the frozen hash params so Spark and DuckDB build bit-identical planes."""
    a, b = _A_PARAMS[i], _B_PARAMS[i]
    return [((a * (j + 1) + b) % MERSENNE_P) / MERSENNE_P - 0.5 for j in range(_DIM)]


_PLANES = [_plane(i) for i in range(N_PLANES)]


def _bucket_sql(vec_expr: str) -> str:
    bits = []
    for i, p in enumerate(_PLANES):
        lits = ", ".join(repr(x) for x in p)
        bits.append(
            f"(CASE WHEN list_dot_product({vec_expr}, [{lits}]::DOUBLE[]) >= 0.0 THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(bits) + ")"


def _bucket_col(vec_col):
    from vector_graph_rag_spark.functions.literals import double_array_lit

    vec = vec_col.cast("array<double>")
    total = F.lit(0)
    for i, p in enumerate(_PLANES):
        # one JVM-parsed literal per plane (per-element F.lit costs ~2ms of
        # py4j driver time each — 512 of them per plan build here)
        plane = double_array_lit(p)
        d = F.aggregate(
            F.zip_with(vec, plane, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
        total = total + F.when(d >= 0.0, F.lit(1 << i)).otherwise(F.lit(0))
    return total


_ANN_SQL = f"""
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_bucket_sql('embedding::DOUBLE[]')} AS bucket FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qvec, bucket FROM c WHERE vec_id < 20),
cand AS (
  SELECT q.query_id, c.vec_id, round({_cos_sql('c.v', 'q.qvec')}, 6) AS score
  FROM c JOIN q ON c.bucket = q.bucket
)
SELECT query_id, vec_id, score, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INT) AS rank
  FROM cand
) WHERE rank <= 5
"""


@register(
    "ann_lsh_topk",
    oracle=_ANN_SQL,
    retired=True,  # r10 swap: bucketed-candidate ANN driver-gated via ann_ivfpq_topk (cell-pruned candidates + ADC, the richer composition); sign-bucket arithmetic stays gated via minhash/simhash local parity; r8-green
    description="sign-LSH bucketed ANN top-k (scale path for milvus AUTOINDEX)",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.select("vec_id", F.col("embedding").alias("v")).withColumn(
        "bucket", _bucket_col(F.col("v"))
    )
    q = c.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qvec"), "bucket"
    )
    # Equi-join on bucket — at scale this is the shuffle-pruned candidate
    # generation; the cross join of the exact variant never materializes.
    cand = c.join(F.broadcast(q), "bucket").withColumn(
        "score", F.round(cosine("v", "qvec"), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", "score", "rank")
    )

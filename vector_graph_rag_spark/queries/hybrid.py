"""Hybrid retrieval (RRF + weighted fusion).

Operators a vector-database user expects beyond the reference's plain
cosine top-k (milvus.py:346-427):

- ``hybrid_rrf_topk`` — reciprocal-rank fusion of the BM25 lexical ranking
  (queries/ranking.py) and the cosine vector ranking over the same corpus
  (documents.doc_id == embeddings.vec_id in the test data).  RRF(k=60) works
  on *ranks*, never raw scores, so it needs no score normalization — the
  standard hybrid-search combiner (Milvus exposes the same RRFRanker).
  Contributions ``1/(60+rank)`` are rounded to 6 decimals and summed as
  DECIMAL so the fused score is addition-order-independent under shuffles.

Scale: every query-side table here is tiny (fixture queries) and broadcast;
the corpus sides shuffle only for their group-bys; top-k is the usual
per-query window — same plan shape as knn_cosine_topk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.literals import inline_rows
from vector_graph_rag_spark.functions.vector import cosine
from vector_graph_rag_spark.queries import register
from vector_graph_rag_spark.queries.ranking import (
    bm25_scores,
    bm25_scores_ctes,
    query_values_sql,
)
from vector_graph_rag_spark.queries.vector import _cos_sql
from vector_graph_rag_spark.sources.tables import load_table

RRF_K = 60

# (query_id, keyword terms, query-vector id) — the two modalities of one query.
_HYBRID_QUERIES = [
    ("q_hash_join", ["hash", "join"], 100),
    ("q_vector_scan", ["vector", "scan", "filter"], 101),
    ("q_customer_order", ["customer", "order"], 102),
]

_LEX_FIXTURE = [(qid, terms) for qid, terms, _ in _HYBRID_QUERIES]
_QVEC_VALUES = ", ".join(f"({qid!r}, {vid})" for qid, _, vid in _HYBRID_QUERIES)

_RRF_SQL = f"""
WITH {bm25_scores_ctes(query_values_sql(_LEX_FIXTURE))},
lex_rank AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
    FROM scored
  ) WHERE rank <= 20
),
qv(query_id, qvec_id) AS (VALUES {_QVEC_VALUES}),
c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT qv.query_id, c.v AS qvec FROM qv JOIN c ON c.vec_id = qv.qvec_id),
vec_rank AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT q.query_id, c.vec_id AS doc_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY round({_cos_sql('c.v', 'q.qvec')}, 6) DESC,
                                       c.vec_id ASC) AS rank
    FROM c CROSS JOIN q
  ) WHERE rank <= 20
),
unioned AS (
  SELECT query_id, doc_id, rank FROM lex_rank
  UNION ALL
  SELECT query_id, doc_id, rank FROM vec_rank
),
fused AS (
  SELECT query_id, doc_id,
         CAST(SUM(CAST(round(1.0 / ({RRF_K} + rank), 6) AS DECIMAL(18,6))) AS DOUBLE)
           AS rrf_score,
         COUNT(*) AS n_lists
  FROM unioned GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, rrf_score, CAST(n_lists AS INT) AS n_lists,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id ASC) AS INT) AS rank
FROM fused
QUALIFY rank <= 10
"""


def _rank_topk(
    df: DataFrame, k: int, order_col: str, keep_score: bool = False
) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc(order_col), F.asc("doc_id"))
    keep = [order_col] if keep_score else ["rank"]
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", *keep)
    )


@register(
    "hybrid_rrf_topk",
    oracle=_RRF_SQL,
    retired=True,  # r17 swap: gate moved to colbert_maxsim_topk (multi-signal ranking fusion family); RRF stays exercised via hybrid_weighted_topk + /search API tests
    description="hybrid retrieval: RRF(k=60) fusion of BM25 and cosine rankings (Milvus RRFRanker analogue)",
)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    lex = _rank_topk(bm25_scores(spark, sf_dir, _LEX_FIXTURE), 20, "score")

    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.select("vec_id", F.col("embedding").alias("v"))
    qv = inline_rows(
        spark, [(qid, vid) for qid, _, vid in _HYBRID_QUERIES], "query_id string, qvec_id long"
    )
    q = F.broadcast(
        qv.join(c, c.vec_id == qv.qvec_id).select("query_id", F.col("v").alias("qvec"))
    )
    vec_scored = (
        c.crossJoin(q)
        .withColumn("vscore", F.round(cosine("v", "qvec"), 6))
        .select("query_id", F.col("vec_id").alias("doc_id"), "vscore")
    )
    vec = _rank_topk(vec_scored, 20, "vscore")

    fused = (
        lex.unionByName(vec)
        .withColumn(
            "contrib",
            F.round(F.lit(1.0) / (F.lit(RRF_K) + F.col("rank")), 6).cast("decimal(18,6)"),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("contrib").cast("double").alias("rrf_score"),
            F.count(F.lit(1)).cast("int").alias("n_lists"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "doc_id", "rrf_score", "n_lists", "rank")
    )


# --- weighted-score fusion (Milvus WeightedRanker analogue, staged r12) -------

_W_VEC = 0.7
_W_LEX = 0.3

# Per-(query, modality) min-max normalization over each top-20 candidate
# list (a degenerate list where max == min normalizes to 1.0), weighted
# blend 0.7*vec + 0.3*lex with a missing modality contributing 0.  Both
# normalized scores and the blend are rounded to 6 decimals before ranking
# so the order is bit-identical across engines.
_WEIGHTED_SQL = f"""
WITH {bm25_scores_ctes(query_values_sql(_LEX_FIXTURE))},
lex_top AS (
  SELECT query_id, doc_id, score FROM (
    SELECT query_id, doc_id, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
    FROM scored
  ) WHERE rank <= 20
),
lex_n AS (
  SELECT query_id, doc_id,
         CASE WHEN mx = mn THEN 1.0 ELSE round((score - mn) / (mx - mn), 6) END AS ln
  FROM (
    SELECT *, MAX(score) OVER (PARTITION BY query_id) AS mx,
              MIN(score) OVER (PARTITION BY query_id) AS mn
    FROM lex_top
  )
),
qv(query_id, qvec_id) AS (VALUES {_QVEC_VALUES}),
c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT qv.query_id, c.v AS qvec FROM qv JOIN c ON c.vec_id = qv.qvec_id),
vec_top AS (
  SELECT query_id, doc_id, score FROM (
    SELECT q.query_id, c.vec_id AS doc_id,
           round({_cos_sql('c.v', 'q.qvec')}, 6) AS score,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY round({_cos_sql('c.v', 'q.qvec')}, 6) DESC,
                                       c.vec_id ASC) AS rank
    FROM c CROSS JOIN q
  ) WHERE rank <= 20
),
vec_n AS (
  SELECT query_id, doc_id,
         CASE WHEN mx = mn THEN 1.0 ELSE round((score - mn) / (mx - mn), 6) END AS vn
  FROM (
    SELECT *, MAX(score) OVER (PARTITION BY query_id) AS mx,
              MIN(score) OVER (PARTITION BY query_id) AS mn
    FROM vec_top
  )
),
blended AS (
  SELECT COALESCE(l.query_id, v.query_id) AS query_id,
         COALESCE(l.doc_id, v.doc_id) AS doc_id,
         round({_W_VEC} * COALESCE(v.vn, 0.0) + {_W_LEX} * COALESCE(l.ln, 0.0), 6) AS wscore,
         CAST((l.doc_id IS NOT NULL) AS INT) + CAST((v.doc_id IS NOT NULL) AS INT) AS n_lists
  FROM lex_n l FULL OUTER JOIN vec_n v
    ON v.query_id = l.query_id AND v.doc_id = l.doc_id
)
SELECT query_id, doc_id, wscore, CAST(n_lists AS INT) AS n_lists,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY wscore DESC, doc_id ASC) AS INT) AS rank
FROM blended
QUALIFY rank <= 10
"""


def _minmax_norm(df: DataFrame, out_col: str) -> DataFrame:
    """Per-query min-max normalization of ``score`` over a k-bounded
    candidate list (the window frame is the top-20 list, never the
    corpus); max == min normalizes to 1.0."""
    w = Window.partitionBy("query_id")
    mx, mn = F.max("score").over(w), F.min("score").over(w)
    return df.select(
        "query_id",
        "doc_id",
        F.when(mx == mn, F.lit(1.0))
        .otherwise(F.round((F.col("score") - mn) / (mx - mn), 6))
        .alias(out_col),
    )


@register(
    "hybrid_weighted_topk",
    oracle=_WEIGHTED_SQL,
    # ACTIVE since the r12 swap (staged retired=True through r11)
    description=(
        "hybrid retrieval: weighted-score fusion (Milvus WeightedRanker "
        "analogue, 0.7*vec + 0.3*lex) — per-modality min-max normalization "
        "over each top-20 list, missing modality contributes 0; the "
        "score-blend sibling of the rank-based hybrid_rrf_topk"
    ),
)
def hybrid_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same plan shape as hybrid_rrf_topk (broadcast fixture queries,
    per-query k-bounded windows); the only new seam is the FULL OUTER join
    of the two 20-row-per-query normalized lists — k-bounded on both
    sides, so every post-scoring operator touches at most 40 rows per
    query at any corpus size."""
    lex_top = _rank_topk(
        bm25_scores(spark, sf_dir, _LEX_FIXTURE), 20, "score", keep_score=True
    )
    lex_n = _minmax_norm(lex_top, "ln")

    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.select("vec_id", F.col("embedding").alias("v"))
    qv = inline_rows(
        spark,
        [(qid, vid) for qid, _, vid in _HYBRID_QUERIES],
        "query_id string, qvec_id long",
    )
    q = F.broadcast(
        qv.join(c, c.vec_id == qv.qvec_id).select(
            "query_id", F.col("v").alias("qvec")
        )
    )
    vec_top = _rank_topk(
        c.crossJoin(q)
        .withColumn("score", F.round(cosine("v", "qvec"), 6))
        .select("query_id", F.col("vec_id").alias("doc_id"), "score"),
        20,
        "score",
        keep_score=True,
    )
    vec_n = _minmax_norm(vec_top, "vn")

    blended = (
        lex_n.join(vec_n, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.lit(_W_VEC) * F.coalesce("vn", F.lit(0.0))
                + F.lit(_W_LEX) * F.coalesce("ln", F.lit(0.0)),
                6,
            ).alias("wscore"),
            (
                F.col("ln").isNotNull().cast("int")
                + F.col("vn").isNotNull().cast("int")
            ).alias("n_lists"),
        )
    )
    w_final = Window.partitionBy("query_id").orderBy(
        F.desc("wscore"), F.asc("doc_id")
    )
    return (
        blended.withColumn("rank", F.row_number().over(w_final).cast("int"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "doc_id", "wscore", "n_lists", "rank")
    )

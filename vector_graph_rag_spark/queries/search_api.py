"""Milvus search-API parity family (ACTIVE since the r11 swap).

The reference's store delegates every retrieval to ONE Milvus call shape —
plain IP top-k (`storage/milvus.py:346-427`).  The Milvus API the
reference builds on offers richer search modes a user migrating from that
ecosystem reaches for on day one; this module re-expresses each as
declarative DataFrame plans with full DuckDB oracles:

- ``range_search_radius``  — Milvus *range search*: every neighbor whose
  score lands in (radius, range_filter], no k.
- ``grouping_search_topk`` — Milvus *grouping search* (``group_by_field``):
  top-k GROUPS per query, one best hit per group.
- ``sparse_dot_topk``      — Milvus *SPARSE_FLOAT_VECTOR* search: inverted
  term-index dot products (the BM25/SPLADE serving shape), all-integer.
- ``mmr_diversity_rerank`` — maximal-marginal-relevance rerank over each
  query's top-k candidates (Carbonell & Goldstein 1998), the diversity
  pass RAG stacks bolt onto plain top-k; row-local per query.

Determinism: every score that crosses the engine boundary is either a
6-decimal-rounded double (the knn convention) or an exact integer (the
PQ convention); ties always break to the lowest id.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.concurrency import run_overlapped
from vector_graph_rag_spark.functions.text import tokens
from vector_graph_rag_spark.functions.vector import cosine
from vector_graph_rag_spark.queries import register
from vector_graph_rag_spark.queries.vector import _cos_sql
from vector_graph_rag_spark.sources.tables import load_table

# --- range search (Milvus range search: radius < score <= range_filter) ------

_RANGE_RADIUS = 0.35
_RANGE_FILTER = 0.9

_RANGE_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cvec FROM embeddings),
scored AS (
  SELECT q.query_id, c.vec_id, round({_cos_sql('c.cvec', 'q.qvec')}, 6) AS score
  FROM c CROSS JOIN q
)
SELECT query_id, vec_id, score FROM scored
WHERE score > {_RANGE_RADIUS} AND score <= {_RANGE_FILTER}
"""


@register(
    "range_search_radius",
    oracle=_RANGE_SQL,
    # ACTIVE since the r11 swap (staged retired=True through r10)
    description=(
        "Milvus range-search analogue: all neighbors with radius < score "
        "<= range_filter (two-sided band, no k) — the dedup/recall shape "
        "where the caller wants EVERY sufficiently-close neighbor"
    ),
)
def range_search_radius_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both bounds ride the same rounded score the ranking queries use, so
    the band is boundary-exact across engines.  Scale: the filter is a
    plain predicate over the scored frame — at 100 TB the candidate side
    comes from the stored IVF cells (operators/ivf.py) instead of the full
    corpus, and this band filter applies unchanged after probe scoring;
    unlike top-k there is no window, so the plan is scan + broadcast join
    + filter (no shuffle at all)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    c = emb.select("vec_id", F.col("embedding").alias("cvec"))
    score = F.round(cosine("cvec", "qvec"), 6)
    return (
        c.crossJoin(F.broadcast(q))
        .withColumn("score", score)
        .filter(
            (F.col("score") > F.lit(_RANGE_RADIUS))
            & (F.col("score") <= F.lit(_RANGE_FILTER))
        )
        .select("query_id", "vec_id", "score")
    )


# --- grouping search (Milvus group_by_field, group_size=1) -------------------

_GROUP_TOPK = 3


def best_hit_per_group(scored: DataFrame, group_cols: list, id_col: str,
                       score_col: str = "score") -> DataFrame:
    """One best row per group: max score, ties to the LOWEST id — as a
    map-side-combined ``groupBy().agg(min(struct(-score, id)))``, never a
    corpus-wide window.  The min-struct form (negated score, then id)
    orders correctly for BOTH numeric and string ids, so the registered
    grouping query (bigint vec_id) and the API route (string passage ids)
    share this one kernel."""
    b = F.min(
        F.struct((-F.col(score_col)).alias("nscore"), F.col(id_col).alias("i"))
    )
    return scored.groupBy(*group_cols).agg(b.alias("b")).select(
        *group_cols,
        F.col("b.i").alias(id_col),
        (-F.col("b.nscore")).alias(score_col),
    )

_GROUPING_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, label, embedding::DOUBLE[] AS cvec FROM embeddings
      WHERE label IS NOT NULL AND embedding IS NOT NULL),
scored AS (
  SELECT q.query_id, c.vec_id, c.label, round({_cos_sql('c.cvec', 'q.qvec')}, 6) AS score
  FROM c CROSS JOIN q
),
best_per_group AS (
  SELECT query_id, label, vec_id, score FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id, label ORDER BY score DESC, vec_id ASC
    ) AS rk FROM scored
  ) WHERE rk = 1
)
SELECT query_id, label, vec_id, score, CAST(grk AS INT) AS group_rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, label ASC
  ) AS grk FROM best_per_group
) WHERE grk <= {_GROUP_TOPK}
"""


@register(
    "grouping_search_topk",
    oracle=_GROUPING_SQL,
    retired=True,  # retired in the r13 swap — group_size=1 IS pass 1 of grouping_search_groupsize2's iterated argmax
    description=(
        "Milvus grouping-search analogue (group_by_field=label, "
        "group_size=1): top-3 GROUPS per query, one best hit per group — "
        "the 'diverse sources' retrieval mode (e.g. one chunk per parent "
        "document)"
    ),
)
def grouping_search_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-sized reduction (best hit per (query, group)) is a
    map-side-combined groupBy + max_by — NOT a window, which would shuffle
    every scored row to sort it; partial aggregation collapses each task's
    rows to |queries| x |labels seen| before the one (query_id, label)
    exchange.  The only window then ranks the group-reduced frame
    (|queries| x |labels| rows, trivially small at any corpus size).  The
    shared :func:`best_hit_per_group` kernel packs (-score, vec_id) into a
    min-struct so the tie-break is the usual lowest-id rule."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    # NULL embeddings excluded in lockstep with the oracle: a null-score
    # struct could otherwise win max() only in an all-null group, where
    # Spark's null-field struct ordering and DuckDB's window NULLS-LAST
    # agree today — but the agreement is incidental, so neither engine
    # sees such rows at all.
    c = emb.filter(
        F.col("label").isNotNull() & F.col("embedding").isNotNull()
    ).select("vec_id", "label", F.col("embedding").alias("cvec"))
    best = best_hit_per_group(
        c.crossJoin(F.broadcast(q)).withColumn(
            "score", F.round(cosine("cvec", "qvec"), 6)
        ),
        ["query_id", "label"],
        id_col="vec_id",
    ).select("query_id", "label", "vec_id", "score")
    w_query = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("label")
    )
    return best.withColumn(
        "group_rank", F.row_number().over(w_query).cast("int")
    ).filter(F.col("group_rank") <= _GROUP_TOPK)


# --- grouping search with group_size=2 (staged r13) ---------------------------

_GROUPING2_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, label, embedding::DOUBLE[] AS cvec FROM embeddings
      WHERE label IS NOT NULL AND embedding IS NOT NULL),
scored AS (
  SELECT q.query_id, c.vec_id, c.label, round({_cos_sql('c.cvec', 'q.qvec')}, 6) AS score
  FROM c CROSS JOIN q
),
in_group AS (
  SELECT query_id, label, vec_id, score, CAST(rk AS INT) AS hit_rank FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id, label ORDER BY score DESC, vec_id ASC
    ) AS rk FROM scored
  ) WHERE rk <= 2
),
gscore AS (SELECT query_id, label, MAX(score) AS gs FROM in_group GROUP BY query_id, label),
granks AS (
  SELECT query_id, label, CAST(grk AS INT) AS group_rank FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY gs DESC, label ASC
    ) AS grk FROM gscore
  ) WHERE grk <= {_GROUP_TOPK}
)
SELECT i.query_id, i.label, i.vec_id, i.score, i.hit_rank, g.group_rank
FROM in_group i JOIN granks g ON g.query_id = i.query_id AND g.label = i.label
"""


@register(
    "grouping_search_groupsize2",
    oracle=_GROUPING2_SQL,
    # ACTIVE since the r13 swap (staged retired=True through r12)
    description=(
        "Milvus grouping search with group_size=2 (non-strict): top-3 "
        "groups per query ranked by their best hit, up to TWO best hits "
        "per group — completes the grouping-search parity the group_size=1 "
        "query opened"
    ),
)
def grouping_search_groupsize2_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group_size=2 WITHOUT a corpus-wide window: the in-group top-2 is an
    ITERATED ARGMAX — pass 1 is the shared map-side-combined
    :func:`best_hit_per_group` kernel, pass 2 re-runs it after a broadcast
    join removes each group's winner (|queries| x |labels| rows, always
    broadcastable).  Every corpus-sized reduction stays a partial-agg
    groupBy; windows only ever see group-reduced frames.  Generalizes to
    group_size=g as g passes — the right trade until g approaches the
    group sizes themselves (then the per-group sort is honest)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    c = emb.filter(
        F.col("label").isNotNull() & F.col("embedding").isNotNull()
    ).select("vec_id", "label", F.col("embedding").alias("cvec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .withColumn("score", F.round(cosine("cvec", "qvec"), 6))
        .select("query_id", "label", "vec_id", "score")
    )
    # best1 has three consumers (winner exclusion, the hits union, group
    # ranking) but needs no explicit pin: the three subtrees are identical,
    # so ReuseExchange serves them all from one aggregation exchange —
    # verified by measurement (an eager localCheckpoint changed nothing).
    best1 = best_hit_per_group(
        scored, ["query_id", "label"], id_col="vec_id"
    ).select("query_id", "label", "vec_id", "score")
    winners = best1.select(
        "query_id", "label", F.col("vec_id").alias("w_id")
    )
    rest = (
        scored.join(F.broadcast(winners), ["query_id", "label"])
        .filter(F.col("vec_id") != F.col("w_id"))
        .drop("w_id")
    )
    best2 = best_hit_per_group(
        rest, ["query_id", "label"], id_col="vec_id"
    ).select("query_id", "label", "vec_id", "score")
    hits = best1.withColumn("hit_rank", F.lit(1).cast("int")).unionByName(
        best2.withColumn("hit_rank", F.lit(2).cast("int"))
    )
    w_query = Window.partitionBy("query_id").orderBy(
        F.desc("gs"), F.asc("label")
    )
    granks = (
        best1.select("query_id", "label", F.col("score").alias("gs"))
        .withColumn("group_rank", F.row_number().over(w_query).cast("int"))
        .filter(F.col("group_rank") <= _GROUP_TOPK)
        .drop("gs")
    )
    return hits.join(F.broadcast(granks), ["query_id", "label"]).select(
        "query_id", "label", "vec_id", "score", "hit_rank", "group_rank"
    )


# --- sparse-vector search (Milvus SPARSE_FLOAT_VECTOR / BM25 serving) --------

_SPARSE_NQ = 3
_SPARSE_TOPK = 10

# Sparse vectors are per-doc term frequencies over the corpus tokenizer
# (functions/text.tokens — whitespace split, empties removed); scores are
# integer dot products over the shared-term inverted index, so every value
# crossing the engine boundary is exact.
_SPARSE_SQL = f"""
WITH tf AS (
  SELECT doc_id, t.term, COUNT(*) AS w
  FROM documents,
       unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t(term)
  GROUP BY doc_id, t.term
),
qtf AS (SELECT doc_id AS query_id, term, w AS qw FROM tf WHERE doc_id < {_SPARSE_NQ}),
scored AS (
  SELECT q.query_id, d.doc_id, CAST(SUM(q.qw * d.w) AS BIGINT) AS score
  FROM qtf q JOIN tf d ON d.term = q.term
  GROUP BY q.query_id, d.doc_id
)
SELECT query_id, doc_id, score, CAST(rk AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id ASC
  ) AS rk FROM scored
) WHERE rk <= {_SPARSE_TOPK}
"""


@register(
    "sparse_dot_topk",
    oracle=_SPARSE_SQL,
    retired=True,  # retired in the r13 swap — its SQL is sparse_index_search's oracle verbatim; the kernel stays driver-gated there
    description=(
        "Milvus SPARSE_FLOAT_VECTOR analogue: per-doc term-frequency "
        "sparse vectors, integer dot products over the shared-term "
        "inverted index, top-10 per query — the BM25/SPLADE serving shape "
        "(scores all-integer, never a dense vector materialized)"
    ),
)
def sparse_dot_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape is the INVERTED INDEX, not dense vectors: the tf
    table is term-partitioned, the query side is broadcast (|queries| x
    |query terms| rows), the dot product is one map-side-combined
    groupBy(query, doc) over posting-list matches, and only the k-bounded
    window shuffles on query_id.  A dense formulation would materialize a
    |vocab|-wide vector per document — this never does."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    qtf = (
        tf.filter(F.col("doc_id") < _SPARSE_NQ)
        .select(F.col("doc_id").alias("query_id"), "term", F.col("w").alias("qw"))
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        tf.join(F.broadcast(qtf), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("qw") * F.col("w")).alias("score"))
        .withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= _SPARSE_TOPK)
        .select("query_id", "doc_id", "score", "rank")
    )


# --- MMR diversity rerank (Carbonell & Goldstein 1998) ------------------------

_MMR_NQ = 3
_MMR_CAND = 20
_MMR_K = 5

# Integer surface: vectors quantized round(x*1000) (the PQ convention),
# relevance = integer dot(query, cand), pairwise sim = integer dot(cand,
# cand).  With lambda = 0.5 the greedy argmax of lambda*rel - (1-lambda)*
# max_sim is the argmax of (rel - max_sim) — pure integer arithmetic, ties
# to the lowest vec_id.  Step 1 has no selected set: max_sim = 0.
_MMR_SQL = f"""
WITH qv AS (
  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000) AS BIGINT)) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
dims AS (SELECT vec_id, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM qv),
rel AS (
  -- self excluded: MMR reranks RETRIEVED docs for a query, and a selected
  -- self makes every step-2 score degenerate (rel_i - dot(v_i, q) = 0)
  SELECT a.vec_id AS query_id, b.vec_id, CAST(SUM(a.x * b.x) AS BIGINT) AS rel
  FROM dims a JOIN dims b ON a.pos = b.pos
  WHERE a.vec_id < {_MMR_NQ} AND b.vec_id <> a.vec_id
  GROUP BY 1, 2
),
cand AS (
  SELECT query_id, vec_id, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id ASC) AS rk
    FROM rel
  ) WHERE rk <= {_MMR_CAND}
),
sim AS (
  SELECT c1.query_id, c1.vec_id AS a, c2.vec_id AS b, CAST(SUM(da.x * db.x) AS BIGINT) AS sim
  FROM cand c1
  JOIN cand c2 ON c2.query_id = c1.query_id
  JOIN dims da ON da.vec_id = c1.vec_id
  JOIN dims db ON db.vec_id = c2.vec_id AND db.pos = da.pos
  GROUP BY 1, 2, 3
),
sel1 AS (
  SELECT query_id, vec_id, rel, rel AS m FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id ASC) AS rk
    FROM cand
  ) WHERE rk = 1
),
mm2 AS (
  SELECT c.query_id, c.vec_id, c.rel, c.rel - MAX(s.sim) AS m
  FROM cand c
  JOIN sim s ON s.query_id = c.query_id AND s.a = c.vec_id
  JOIN sel1 p ON p.query_id = c.query_id AND s.b = p.vec_id
  WHERE NOT EXISTS (SELECT 1 FROM sel1 p2 WHERE p2.query_id = c.query_id AND p2.vec_id = c.vec_id)
  GROUP BY 1, 2, 3
),
sel2 AS (
  SELECT query_id, vec_id, rel, m FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY m DESC, vec_id ASC) AS rk
    FROM mm2
  ) WHERE rk = 1
),
sels2 AS (SELECT query_id, vec_id FROM sel1 UNION ALL SELECT query_id, vec_id FROM sel2),
mm3 AS (
  SELECT c.query_id, c.vec_id, c.rel, c.rel - MAX(s.sim) AS m
  FROM cand c
  JOIN sim s ON s.query_id = c.query_id AND s.a = c.vec_id
  JOIN sels2 p ON p.query_id = c.query_id AND s.b = p.vec_id
  WHERE NOT EXISTS (SELECT 1 FROM sels2 p2 WHERE p2.query_id = c.query_id AND p2.vec_id = c.vec_id)
  GROUP BY 1, 2, 3
),
sel3 AS (
  SELECT query_id, vec_id, rel, m FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY m DESC, vec_id ASC) AS rk
    FROM mm3
  ) WHERE rk = 1
),
sels3 AS (SELECT query_id, vec_id FROM sels2 UNION ALL SELECT query_id, vec_id FROM sel3),
mm4 AS (
  SELECT c.query_id, c.vec_id, c.rel, c.rel - MAX(s.sim) AS m
  FROM cand c
  JOIN sim s ON s.query_id = c.query_id AND s.a = c.vec_id
  JOIN sels3 p ON p.query_id = c.query_id AND s.b = p.vec_id
  WHERE NOT EXISTS (SELECT 1 FROM sels3 p2 WHERE p2.query_id = c.query_id AND p2.vec_id = c.vec_id)
  GROUP BY 1, 2, 3
),
sel4 AS (
  SELECT query_id, vec_id, rel, m FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY m DESC, vec_id ASC) AS rk
    FROM mm4
  ) WHERE rk = 1
),
sels4 AS (SELECT query_id, vec_id FROM sels3 UNION ALL SELECT query_id, vec_id FROM sel4),
mm5 AS (
  SELECT c.query_id, c.vec_id, c.rel, c.rel - MAX(s.sim) AS m
  FROM cand c
  JOIN sim s ON s.query_id = c.query_id AND s.a = c.vec_id
  JOIN sels4 p ON p.query_id = c.query_id AND s.b = p.vec_id
  WHERE NOT EXISTS (SELECT 1 FROM sels4 p2 WHERE p2.query_id = c.query_id AND p2.vec_id = c.vec_id)
  GROUP BY 1, 2, 3
),
sel5 AS (
  SELECT query_id, vec_id, rel, m FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY m DESC, vec_id ASC) AS rk
    FROM mm5
  ) WHERE rk = 1
)
SELECT query_id, CAST(sel_rank AS INT) AS sel_rank, vec_id, rel, m AS mmr_score FROM (
  SELECT query_id, 1 AS sel_rank, vec_id, rel, m FROM sel1
  UNION ALL SELECT query_id, 2, vec_id, rel, m FROM sel2
  UNION ALL SELECT query_id, 3, vec_id, rel, m FROM sel3
  UNION ALL SELECT query_id, 4, vec_id, rel, m FROM sel4
  UNION ALL SELECT query_id, 5, vec_id, rel, m FROM sel5
)
"""


def _int_dot(a, b):
    """Integer dot product of two array<bigint> columns — zip_with + fold,
    whole-stage-codegen JVM arithmetic."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


@register(
    "mmr_diversity_rerank",
    oracle=_MMR_SQL,
    # ACTIVE since the r11 swap (staged retired=True through r10)
    description=(
        "maximal-marginal-relevance rerank (Carbonell & Goldstein 1998, "
        "lambda=0.5) over each query's top-20 IP candidates: greedy k=5 "
        "selection maximizing rel - max-sim-to-selected, all-integer, "
        "row-local per query — the diversity pass RAG stacks bolt onto "
        "plain top-k"
    ),
)
def mmr_diversity_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB shape: MMR is data-parallel ACROSS queries and row-local
    WITHIN one — each query's candidate set is k-bounded by construction
    (top-20 from the ANN/top-k stage), so the greedy quadratic lives in
    ONE row's higher-order-function fold (selected-set state carried
    through F.aggregate, sims computed on demand via zip_with dot
    products), never a shuffle.  The only exchanges are the candidate
    top-k window and the per-query groupBy — both k-bounded."""
    from vector_graph_rag_spark.operators.pq import quantize_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    qv = quantize_embeddings(emb)  # (vec_id, qv array<bigint>), nulls dropped
    queries = qv.filter(F.col("vec_id") < _MMR_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("query_qv")
    )
    w_cand = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("vec_id"))
    cand = (
        qv.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))  # self excluded (see oracle note)
        .withColumn("rel", _int_dot(F.col("qv"), F.col("query_qv")))
        .withColumn("rk", F.row_number().over(w_cand))
        .filter(F.col("rk") <= _MMR_CAND)
        .select("query_id", "vec_id", "rel", "qv")
    )
    return mmr_greedy_select(cand, _MMR_K)


def mmr_greedy_select(
    cand: DataFrame, k: int, query_id: str = "query_id"
) -> DataFrame:
    """Greedy MMR (lambda=0.5 integer form) over each query's candidate
    rows — the kernel shared by the registered ``mmr_diversity_rerank``
    and the API's ``/search`` mmr mode.  ``cand`` columns: ``query_id``,
    ``vec_id`` (bigint, the tie-break), ``rel`` (bigint relevance),
    ``qv`` (array<bigint> quantized vector).  Returns
    (query_id, sel_rank, vec_id, rel, mmr_score); row-local per query —
    the only exchange is the per-query groupBy of k-bounded rows."""
    per_q = cand.groupBy(query_id).agg(
        F.array_sort(
            F.collect_list(F.struct("vec_id", "rel", "qv"))
        ).alias("cands")
    )

    empty_sel = F.expr(
        "CAST(array() AS array<struct<vec_id:bigint,rel:bigint,m:bigint,"
        "qv:array<bigint>>>)"
    )

    def _step(sel, _i):
        cands = F.col("cands")
        sel_ids = F.transform(sel, lambda s: s["vec_id"])
        rem = F.filter(
            cands, lambda c: ~F.array_contains(sel_ids, c["vec_id"])
        )
        scored = F.transform(
            rem,
            lambda c: F.struct(
                (
                    c["rel"]
                    - F.coalesce(
                        F.array_max(
                            F.transform(
                                sel, lambda s: _int_dot(c["qv"], s["qv"])
                            )
                        ),
                        F.lit(0).cast("long"),
                    )
                ).alias("m"),
                (-c["vec_id"]).alias("negid"),
                c["vec_id"].alias("vec_id"),
                c["rel"].alias("rel"),
                c["qv"].alias("qv"),
            ),
        )
        best_key = F.array_max(
            F.transform(scored, lambda s: F.struct(s["m"], s["negid"]))
        )
        best = F.element_at(
            F.filter(
                scored,
                lambda s: (s["m"] == best_key["m"])
                & (s["negid"] == best_key["negid"]),
            ),
            1,
        )
        appended = F.concat(
            sel,
            F.array(
                F.struct(
                    best["vec_id"].alias("vec_id"),
                    best["rel"].alias("rel"),
                    best["m"].alias("m"),
                    best["qv"].alias("qv"),
                )
            ),
        )
        return F.when(F.size(rem) > 0, appended).otherwise(sel)

    selected = F.aggregate(
        F.sequence(F.lit(1), F.lit(k)), empty_sel, _step
    )
    return (
        per_q.select(
            query_id, F.posexplode(selected).alias("pos", "s")
        )
        .select(
            query_id,
            (F.col("pos") + 1).cast("int").alias("sel_rank"),
            F.col("s.vec_id").alias("vec_id"),
            F.col("s.rel").alias("rel"),
            F.col("s.m").alias("mmr_score"),
        )
    )


# --- stored inverted term index: persistent half of the sparse story ---------


def write_term_index(docs: DataFrame, path: str, text_col: str = "text") -> None:
    """Materialize the inverted term index: (doc_id, term, w) term
    frequencies over the corpus tokenizer, laid out term-major
    (repartitioned by term so each posting list is co-located — the join
    key of every future probe).  This is the pay-once cost the in-query
    `sparse_dot_topk` re-pays per run: at 100 TB the corpus is tokenized
    ONCE and every retrieval joins the stored posting lists."""
    tf = (
        docs.select("doc_id", F.explode(tokens(text_col)).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    tf.repartition(F.col("term")).write.mode("overwrite").parquet(path)


def sparse_index_search(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    text_col: str = "text",
) -> DataFrame:
    """(query_id, doc_id, score, rank) — integer term-frequency dot
    products of the query texts against the STORED posting lists.  The
    query side is tokenized at search time (bounded: |queries| x |query
    terms| rows, broadcast); the index scan reads only the `term, doc_id,
    w` columns and the dot product is one map-side-combined
    groupBy(query, doc)."""
    qtf = (
        queries.select(query_id, F.explode(tokens(text_col)).alias("term"))
        .groupBy(query_id, "term")
        .agg(F.count(F.lit(1)).alias("qw"))
    )
    index = spark.read.parquet(index_path)
    w_rank = Window.partitionBy(query_id).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        index.join(F.broadcast(qtf), "term")
        .groupBy(query_id, "doc_id")
        .agg(F.sum(F.col("qw") * F.col("w")).alias("score"))
        .withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= k)
        .select(query_id, "doc_id", "score", "rank")
    )


@register(
    "sparse_index_search",
    oracle=_SPARSE_SQL,
    retired=True,  # r14 swap: term_index_incremental carries the SAME oracle over the same stored posting aggregation; the hash gate moves to the maintenance half (the ann_index_incremental precedent); r13-green
    description=(
        "persistent inverted term index: the corpus tokenized ONCE into a "
        "term-major posting-list layout, searched by joining query "
        "postings against the stored index — the oracle is "
        "sparse_dot_topk's SQL verbatim, pinning stored == logical (the "
        "ann_ivf_index_search pattern)"
    ),
)
def sparse_index_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    queries = d.filter(F.col("doc_id") < _SPARSE_NQ).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    index = tempfile.mkdtemp(prefix="vgr_terms_")
    try:
        write_term_index(d, index)
        return sparse_index_search(
            spark, index, queries, k=_SPARSE_TOPK
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(index, ignore_errors=True)


@register(
    "term_index_incremental",
    oracle=_SPARSE_SQL,
    retired=True,  # r16 swap: compaction sibling term_index_compacted activates (same posting-shard contract; append/replay/BM25-from-shards stay unit-pinned by tests/test_term_index.py); r14-green
    description=(
        "incremental inverted term index: three nightly document batches "
        "appended as overwrite-idempotent posting shards (one replayed to "
        "exercise exactly-once), then searched — the oracle is "
        "sparse_dot_topk's SQL verbatim, pinning incremental == one-shot "
        "== logical (the ann_index_incremental discipline for the "
        "lexical side)"
    ),
)
def term_index_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance half of the stored-term-index story
    (streaming/term_index.py): `sparse_index_search` re-tokenizes the full
    corpus into its temp index per run; here the corpus arrives as three
    doc_id%3 batches, each tokenized once into its own shard (append cost
    bounded by BATCH tokens, never the accumulated corpus), batch 1
    replayed to pin overwrite idempotence.  Search merges posting lists
    across shards through the same commutative (query, doc) aggregation,
    so incremental == one-shot byte-for-byte — the hash gate holds the
    whole claim."""
    import shutil
    import tempfile

    from vector_graph_rag_spark.streaming.term_index import (
        append_term_batch,
        search_term_index,
    )

    d = load_table(spark, sf_dir, "documents")
    queries = d.filter(F.col("doc_id") < _SPARSE_NQ).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    index = tempfile.mkdtemp(prefix="vgr_terms_inc_")
    try:
        # 3 independent nightly appends overlapped (guide §2.6: disjoint
        # batch dirs); the exactly-once REPLAY of batch 1 must observe its
        # first write, so it runs after the barrier
        run_overlapped(
            [
                (
                    lambda b=b: append_term_batch(
                        d.filter(F.col("doc_id") % 3 == b), index, batch_id=b
                    )
                )
                for b in range(3)
            ]
        )
        append_term_batch(d.filter(F.col("doc_id") % 3 == 1), index, batch_id=1)
        return search_term_index(
            spark, index, queries, k=_SPARSE_TOPK
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(index, ignore_errors=True)


@register(
    "term_index_compacted",
    oracle=_SPARSE_SQL,
    # ACTIVE since the r16 swap (staged retired=True through r15)
    description=(
        "posting-shard compaction: three nightly term-index shards merged "
        "into ONE compacted shard (pure I/O — nothing re-tokenized), then "
        "searched through the compacted tree — the oracle is "
        "sparse_dot_topk's SQL verbatim, pinning compacted == sharded == "
        "one-shot == logical"
    ),
)
def term_index_compacted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance step AFTER term_index_incremental's nightly
    appends: a term's posting list spans every batch that saw it, so
    files-per-term grows linearly with appends until a compaction folds
    the shard tree back to one.  Compaction moves (doc_id, term, w) rows
    only — batches are doc-disjoint, so concatenation IS the merged index
    and the search result is row-identical, which is exactly what the
    hash gate checks.  Publish-then-swap: the sharded source stays intact
    until the compacted tree is verified."""
    import shutil
    import tempfile

    from vector_graph_rag_spark.streaming.term_index import (
        append_term_batch,
        compact_term_index,
        search_term_index,
    )

    d = load_table(spark, sf_dir, "documents")
    queries = d.filter(F.col("doc_id") < _SPARSE_NQ).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    root = tempfile.mkdtemp(prefix="vgr_terms_cmp_")
    try:
        sharded = os.path.join(root, "sharded")
        compacted = os.path.join(root, "compacted")
        # independent appends overlapped (guide §2.6); compaction barriers
        run_overlapped(
            [
                (
                    lambda b=b: append_term_batch(
                        d.filter(F.col("doc_id") % 3 == b), sharded, batch_id=b
                    )
                )
                for b in range(3)
            ]
        )
        n = compact_term_index(spark, sharded, compacted)
        assert n == 3
        return search_term_index(
            spark, compacted, queries, k=_SPARSE_TOPK
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- ColBERT-style late-interaction MaxSim top-k (staged r15, round-17 swap) --
#
# Milvus 2.5+ / BGE-M3 multi-vector search: a document is a BAG of token
# vectors; score(q, d) = sum over query tokens of the max dot product
# against d's token vectors (Khattab & Zaharia 2020, ColBERT).  The single
# embedding column the rest of the engine uses cannot express "this query
# token matched THAT doc token" — late interaction is the serving shape
# that keeps token-level matching at retrieval time without cross-encoder
# cost.  Docs contribute their first 8 whitespace tokens, queries are the
# first 3 tokens of three fixed documents (self-retrieval built in); token
# vectors are the deterministic hash mock (FIXTURES §1.5), so the oracle
# reproduces every dot product bit-exactly.

_MAXSIM_K = 10
_MAXSIM_DOC_TOKS = 8
_MAXSIM_Q_TOKS = 3
_MAXSIM_QUERY_DOCS = (7, 21, 42)


def _maxsim_sql() -> str:
    from vector_graph_rag_spark.functions.embedding import mock_embedding_sql

    qdocs = ", ".join(str(d) for d in _MAXSIM_QUERY_DOCS)
    return f"""
WITH dt AS (
  SELECT doc_id, unnest(toks) AS tok
  FROM (SELECT doc_id, string_split(text, ' ')[1:{_MAXSIM_DOC_TOKS}] AS toks
        FROM documents)
),
dv AS (SELECT doc_id, {mock_embedding_sql('tok')} AS v FROM dt),
qt AS (
  SELECT doc_id AS query_id, generate_subscripts(toks, 1) AS qpos,
         unnest(toks) AS tok
  FROM (SELECT doc_id, string_split(text, ' ')[1:{_MAXSIM_Q_TOKS}] AS toks
        FROM documents WHERE doc_id IN ({qdocs}))
),
qv AS (SELECT query_id, qpos, {mock_embedding_sql('tok')} AS v FROM qt),
best AS (
  SELECT q.query_id, d.doc_id, q.qpos,
         MAX(round(list_dot_product(q.v, d.v), 6)) AS m
  FROM qv q CROSS JOIN dv d
  GROUP BY 1, 2, 3
),
score AS (
  SELECT query_id, doc_id,
         CAST(SUM(CAST(m AS DECIMAL(18,6))) AS DOUBLE) AS maxsim
  FROM best GROUP BY 1, 2
)
SELECT query_id, doc_id, maxsim, CAST(rk AS INT) AS rank
FROM (
  SELECT query_id, doc_id, maxsim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY maxsim DESC, doc_id ASC) AS rk
  FROM score
)
WHERE rk <= {_MAXSIM_K}"""


def maxsim_topk(
    doc_toks: DataFrame,
    query_toks: DataFrame,
    k: int,
    doc_id: str = "doc_id",
    query_id: str = "query_id",
) -> DataFrame:
    """The reusable MaxSim kernel (shared by the registered
    ``colbert_maxsim_topk`` gate and the API's ``/search`` maxsim mode):
    ``doc_toks`` is one row per doc token vector ``(doc_id, v)``,
    ``query_toks`` is the bounded query side ``(query_id, qpos, qv)``
    (broadcast — |queries| x token-cap rows).  Returns
    ``(query_id, doc_id, maxsim, rank)`` with rank <= k per query, scores
    order-free (max of rounded dots, summed as DECIMAL), ties to the
    lowest doc id.

    Production composition at 100 TB: this scores EVERY doc's token bag
    (the exhaustive form the oracle pins).  Serving deployments bound
    `doc_toks` first — a single-vector ANN pass (IVF/PQ) selects a
    candidate pool per query, and MaxSim reranks only the pool's token
    vectors (the ColBERT two-stage recipe; same shape as the mmr mode's
    pool-then-rerank).  The kernel is agnostic: pass the pooled subset
    as `doc_toks` and the plan stays map-side."""
    dot = F.round(
        F.aggregate(
            F.zip_with("v", "qv", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    best = (
        doc_toks.crossJoin(F.broadcast(query_toks))
        .select(query_id, doc_id, "qpos", dot.alias("dot"))
        .groupBy(query_id, doc_id, "qpos")
        .agg(F.max("dot").alias("m"))
    )
    score = best.groupBy(query_id, doc_id).agg(
        F.sum(F.col("m").cast("decimal(18,6)")).cast("double").alias("maxsim")
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("maxsim"), F.asc(doc_id))
    return (
        score.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, doc_id, "maxsim", "rank")
    )


@register(
    "colbert_maxsim_topk",
    oracle=_maxsim_sql(),
    description=(
        "late-interaction multi-vector top-k (ColBERT MaxSim, the Milvus "
        "2.5 / BGE-M3 serving shape): score = sum over query tokens of "
        "the max dot product against the doc's token vectors; per-token "
        "hash-mock embeddings, max-then-DECIMAL-sum for order-free "
        "determinism, rank ties to the lowest doc_id"
    ),
)
def colbert_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late interaction at 100 TB, ROW-LOCAL form (r17): the doc's <=8
    token vectors stay an ARRAY on the doc row (no explode), the query
    side is 3 broadcast rows each carrying its <=3 (qpos, qv) token
    structs, and the ENTIRE MaxSim — per-qpos max over doc tokens, then
    the order-free DECIMAL(18,6) sum — folds row-locally on the
    docs x |queries| crossJoin output.  The r16 shape exploded to
    docs x 8 x 9 scoring rows and paid TWO aggregation Exchanges
    ((query, doc, qpos) max + (query, doc) sum) before the top-k window;
    now the only Exchange left is the final per-query window over
    docs x |queries| narrow rows (plans/r17/colbert_maxsim_topk_
    {before,after}.txt: 3 -> 1 Exchange).  Arithmetic identical:
    dot = round(sum x*y, 6); per-qpos max; sum as DECIMAL(18,6) cast
    double — the max-then-DECIMAL-sum determinism contract, now as
    array_max + an exact decimal fold.  The exhaustive-kernel
    ``maxsim_topk`` stays unchanged for pooled/rerank callers whose
    doc side arrives as token ROWS (the prefiltered stage-2 shape)."""
    from vector_graph_rag_spark.functions.embedding import mock_embedding
    from vector_graph_rag_spark.functions.partitioning import (
        ensure_parallel_scan,
    )

    # under-parallel scan guard: per-token mock embeddings + the MaxSim
    # fold are the row's whole cost and serialize on a one-file corpus's
    # single scan task; scores are row-local + exact DECIMAL, layout
    # cannot change results
    d = ensure_parallel_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    toks8 = F.slice(F.split("text", " "), 1, _MAXSIM_DOC_TOKS)
    # filter matches the exploded form exactly: explode drops null-text
    # docs (null token array), and ONLY those — ''-text still yields one
    # [''] token whose mock embedding is the zero vector
    docs = d.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.transform(toks8, lambda t: mock_embedding(t)).alias("dvs"),
    )

    toks3 = F.slice(F.split("text", " "), 1, _MAXSIM_Q_TOKS)
    qarr = (
        d.filter(F.col("doc_id").isin(*_MAXSIM_QUERY_DOCS))
        .select(
            F.col("doc_id").alias("query_id"),
            F.posexplode(toks3).alias("qpos", "tok"),
        )
        .select("query_id", "qpos", mock_embedding("tok").alias("qv"))
        .groupBy("query_id")
        .agg(F.sort_array(F.collect_list(F.struct("qpos", "qv"))).alias("qts"))
    )

    def _dot(v, qv):
        return F.round(
            F.aggregate(
                F.zip_with(v, qv, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )

    # per query token: max dot against the doc's token vectors (row-local)
    mvals = F.transform(
        "qts",
        lambda q: F.array_max(
            F.transform(F.col("dvs"), lambda v: _dot(v, q["qv"]))
        ),
    )
    # order-free exact sum: same DECIMAL(18,6) term arithmetic as the
    # kernel's groupBy sum (bounded |sum| <= 3, so the (28,6) accumulator
    # is exact)
    maxsim = F.aggregate(
        mvals,
        F.lit(0).cast("decimal(28,6)"),
        lambda acc, m: (acc + m.cast("decimal(18,6)")).cast("decimal(28,6)"),
    ).cast("double")

    scored = docs.crossJoin(F.broadcast(qarr)).select(
        "query_id", "doc_id", maxsim.alias("maxsim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("maxsim"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _MAXSIM_K)
        .select("query_id", "doc_id", "maxsim", "rank")
    )

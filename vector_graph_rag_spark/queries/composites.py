"""Composite / remaining-operator queries: full retrieve pipeline with
backfill, multi-query threshold dedup, mock embedding, chunker (rows-only),
CRUD cascade delete, degree-2 expansion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.embedding import mock_embedding, mock_embedding_sql
from vector_graph_rag_spark.functions.literals import inline_rows
from vector_graph_rag_spark.functions.vector import cosine
from vector_graph_rag_spark.operators.retrieval import retrieve_with_backfill
from vector_graph_rag_spark.operators.topk import (
    cosine_topk,
    score_threshold_first_seen_dedup,
)
from vector_graph_rag_spark.queries import register
from vector_graph_rag_spark.queries.graphrag import SEED_NAMES, _graph, _seed_entities
from vector_graph_rag_spark.queries.sql_common import TRIPS_CTE, norm_sql
from vector_graph_rag_spark.queries.vector import _cos_sql
from vector_graph_rag_spark.sources.tables import load_table

_SEEDS_VALUES = ", ".join(f"({s!r})" for s in SEED_NAMES)

# Expansion CTE chain shared by retrieve-shaped oracles (degree 1).
_EXPAND_CTES = f"""
seeds AS (SELECT sha256('entity:' || {norm_sql('s.name')}) AS entity_id
          FROM (VALUES {_SEEDS_VALUES}) s(name)),
step0 AS (
  SELECT DISTINCT er.relation_id FROM entity_relation er
  JOIN seeds s ON er.entity_id = s.entity_id
),
hop_entities AS (
  SELECT DISTINCT er.entity_id FROM entity_relation er
  JOIN step0 r ON er.relation_id = r.relation_id
),
new_entities AS (
  SELECT entity_id FROM hop_entities EXCEPT SELECT entity_id FROM seeds
),
hop_relations AS (
  SELECT DISTINCT er.relation_id FROM entity_relation er
  JOIN new_entities n ON er.entity_id = n.entity_id
),
final_relations AS (
  SELECT relation_id FROM step0 UNION SELECT relation_id FROM hop_relations
)
"""

# --- full retrieve + mock rerank + fan-out + naive backfill (rag.py:587-647)

_RETRIEVE_SQL = f"""
WITH {TRIPS_CTE},
{_EXPAND_CTES},
evicted AS (  -- no-eviction branch: lexicographic order (retriever.py:263-265)
  SELECT relation_id, row_number() OVER (ORDER BY relation_id) AS sel_order
  FROM final_relations
),
selected AS (SELECT * FROM evicted WHERE sel_order <= 5),
graph_passages AS (
  SELECT passage_id, prio, 0 AS src_rank, 'graph' AS src FROM (
    SELECT rp.passage_id, s.sel_order AS prio,
           row_number() OVER (PARTITION BY rp.passage_id ORDER BY s.sel_order, rp.relation_id) AS seen
    FROM relation_passage rp JOIN selected s ON rp.relation_id = s.relation_id
  ) WHERE seen = 1
),
naive AS (
  SELECT doc_id AS passage_id,
         row_number() OVER (ORDER BY doc_id) AS prio,
         1 AS src_rank, 'naive' AS src
  FROM docs
),
unioned AS (
  SELECT * FROM graph_passages UNION ALL SELECT * FROM naive
),
deduped AS (
  SELECT *, row_number() OVER (PARTITION BY passage_id ORDER BY src_rank, prio) AS seen
  FROM unioned
),
ranked AS (
  SELECT passage_id, src,
         CAST(row_number() OVER (ORDER BY src_rank, prio, passage_id) AS INT) AS final_rank
  FROM deduped WHERE seen = 1
)
SELECT passage_id, final_rank, src FROM ranked WHERE final_rank <= 10
"""


@register(
    "graph_rag_retrieve_backfill",
    oracle=_RETRIEVE_SQL,
    description="full retrieve: expand→evict→rerank(5)→fan-out→naive backfill (rag.py:587-647)",
)
def graph_rag_retrieve_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.config import EngineConfig

    g = _graph(spark, sf_dir)
    # Pin the no-eviction branch (the graph here has no relation embeddings;
    # the eviction branch, operators/eviction.apply_eviction, is value-checked
    # in tests/test_plans.py).
    cfg = EngineConfig(relation_number_threshold=10**9)
    return retrieve_with_backfill(
        g, _seed_entities(spark), cfg=cfg, top_k=10, num_select=5
    )


# --- multi-query threshold filter + first-seen dedup (retriever.py:134-154) --

_FIRST_SEEN_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cvec FROM embeddings),
scored AS (
  SELECT q.query_id, c.vec_id, round({_cos_sql('c.cvec', 'q.qvec')}, 6) AS score
  FROM c CROSS JOIN q
),
hits AS (
  SELECT query_id, vec_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INT) AS rank
  FROM scored
),
topk AS (SELECT * FROM hits WHERE rank <= 20),
thresholded AS (SELECT * FROM topk WHERE score > 0.2),
first_seen AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY query_id, rank) AS seen
  FROM thresholded
)
SELECT vec_id, query_id AS first_query_id, score, rank FROM first_seen WHERE seen = 1
"""


@register(
    "hits_first_seen_dedup",
    oracle=_FIRST_SEEN_SQL,
    description="score>t filter + first-seen dedup across query hit lists (retriever.py:134-154)",
)
def hits_first_seen_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    hits = cosine_topk(emb, queries, k=20, corpus_id="vec_id", corpus_vec="embedding")
    deduped = score_threshold_first_seen_dedup(
        hits, threshold=0.2, id_col="vec_id", order_cols=("query_id", "rank")
    )
    return deduped.select(
        "vec_id", F.col("query_id").alias("first_query_id"), "score", "rank"
    )


# --- deterministic mock embedding (#38, embeddings.py:206-323) --------------

_EMBED_DIM = 8

_MOCK_EMBED_SQL = f"""
WITH embedded AS (
  SELECT doc_id, {mock_embedding_sql('text', _EMBED_DIM)} AS emb FROM documents
)
SELECT doc_id, generate_subscripts(emb, 1) - 1 AS dim_idx,
       round(unnest(emb), 6) AS val
FROM embedded
"""


@register(
    "mock_embed_documents",
    oracle=_MOCK_EMBED_SQL,
    description="deterministic hash-mock embedding, L2-normalized (embeddings.py:206-323 stand-in)",
)
def mock_embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.functions.partitioning import (
        ensure_parallel_scan,
    )

    # under-parallel scan guard: full-text embedding map pass (see
    # eval_recall_harness)
    d = ensure_parallel_scan(load_table(spark, sf_dir, "documents"))
    return (
        d.select("doc_id", mock_embedding("text", _EMBED_DIM).alias("emb"))
        .select("doc_id", F.posexplode("emb").alias("dim_idx", "val"))
        .select("doc_id", "dim_idx", F.round("val", 6).alias("val"))
    )


# --- chunker (UDTF-shaped 1→N) ----------------------------------------------
#
# The greedy packing IS SQL-expressible after all (closing the last rows-only
# check, r4 verdict item 6): the sequential fold over split parts becomes a
# DuckDB recursive CTE carrying (current, chunks) state per document — one
# recursion step per part, char-window fallbacks as list_transform(range(...)),
# parallel unnests for the final 1→N explode.  Chunk params match the declared
# query (chunk_size=120, chunk_overlap=24 → step 96).

_CHUNK_SQL = r"""
WITH RECURSIVE base AS (
  SELECT doc_id, text,
    CASE WHEN contains(text, chr(10)||chr(10)) THEN chr(10)||chr(10)
         WHEN contains(text, chr(10)) THEN chr(10)
         WHEN contains(text, '. ') THEN '. '
         WHEN contains(text, ' ') THEN ' '
         ELSE NULL END AS sep
  FROM documents
),
small AS (
  SELECT doc_id, [text] AS chunks FROM base WHERE length(text) <= 120
),
nosep AS (
  SELECT doc_id,
    list_transform(range(0, length(text), 96),
                   i -> substr(text, CAST(i+1 AS INT), 120)) AS chunks
  FROM base WHERE length(text) > 120 AND sep IS NULL
),
packdocs AS (
  SELECT doc_id, sep, string_split(text, sep) AS parts
  FROM base WHERE length(text) > 120 AND sep IS NOT NULL
),
pack AS (
  SELECT doc_id, sep, parts, 0 AS i, '' AS cur, CAST([] AS VARCHAR[]) AS chunks
  FROM packdocs
  UNION ALL
  SELECT doc_id, sep, parts, i + 1,
    CASE
      WHEN length(cand) <= 120 THEN cand
      WHEN length(p) > 120 THEN ''
      ELSE p
    END AS cur,
    CASE
      WHEN length(cand) <= 120 THEN chunks
      ELSE list_concat(
             CASE WHEN cur <> '' THEN list_append(chunks, cur) ELSE chunks END,
             CASE WHEN length(p) > 120
                  THEN list_transform(range(0, length(p), 96),
                                      j -> substr(p, CAST(j+1 AS INT), 120))
                  ELSE CAST([] AS VARCHAR[]) END)
    END AS chunks
  FROM (
    SELECT pack.*, parts[i+1] AS p,
      CASE WHEN cur <> '' THEN cur || sep || parts[i+1] ELSE parts[i+1] END AS cand
    FROM pack WHERE i < len(parts)
  )
),
packed AS (
  SELECT doc_id,
    CASE WHEN cur <> '' THEN list_append(chunks, cur) ELSE chunks END AS chunks
  FROM pack WHERE i = len(parts)
),
allchunks AS (
  SELECT * FROM small UNION ALL SELECT * FROM nosep UNION ALL SELECT * FROM packed
)
SELECT doc_id,
       CAST(unnest(range(len(chunks))) AS INT) AS chunk_index,
       CAST(len(chunks) AS INT) AS total_chunks,
       unnest(chunks) AS chunk
FROM allchunks
ORDER BY doc_id, chunk_index
"""


@register(
    "chunk_documents",
    oracle=_CHUNK_SQL,
    description="TextChunker parity: greedy packing + overlap fallback (chunker.py:17-98); recursive-CTE oracle",
)
def chunk_documents_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.sources.loaders import chunk_documents

    d = load_table(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_size=120, chunk_overlap=24).orderBy(
        "doc_id", "chunk_index"
    )


# --- CRUD cascade delete (graph.py:634-672) ---------------------------------

_CASCADE_SQL = f"""
WITH {TRIPS_CTE},
doomed AS (SELECT doc_id AS passage_id FROM docs WHERE doc_id IN
           (SELECT CAST(doc_id AS VARCHAR) FROM documents WHERE source = 'src0')),
surviving_rp AS (
  SELECT rp.relation_id, rp.passage_id FROM relation_passage rp
  WHERE rp.passage_id NOT IN (SELECT passage_id FROM doomed)
),
rels AS (SELECT DISTINCT rel_id AS relation_id FROM trips)
SELECT r.relation_id,
       (SELECT COUNT(*) FROM surviving_rp s WHERE s.relation_id = r.relation_id) AS n_passages
FROM rels r
"""


@register(
    "crud_cascade_delete",
    oracle=_CASCADE_SQL,
    description="cascade passage delete: strip refs, keep nodes (graph.py:634-672)",
)
def crud_cascade_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.graph.builder import adjacency_arrays
    from vector_graph_rag_spark.graph.crud import delete_passages

    g = _graph(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    doomed = docs.filter(F.col("source") == "src0").select(
        F.col("doc_id").cast("string").alias("passage_id")
    )
    g2 = adjacency_arrays(delete_passages(g, doomed))
    return g2.relations.select(
        F.col("id").alias("relation_id"),
        F.size("passage_ids").cast("bigint").alias("n_passages"),
    )


# --- degree-2 expansion (proves the driver loop generalizes) ----------------

_EXPAND2_SQL = f"""
WITH {TRIPS_CTE},
{_EXPAND_CTES},
entities_d1 AS (
  SELECT entity_id FROM seeds UNION SELECT entity_id FROM new_entities
),
hop2_entities AS (
  SELECT DISTINCT er.entity_id FROM entity_relation er
  JOIN final_relations r ON er.relation_id = r.relation_id
),
new_entities_d2 AS (
  SELECT entity_id FROM hop2_entities EXCEPT SELECT entity_id FROM entities_d1
),
hop2_relations AS (
  SELECT DISTINCT er.relation_id FROM entity_relation er
  JOIN new_entities_d2 n ON er.entity_id = n.entity_id
),
final_d2 AS (
  SELECT relation_id FROM final_relations UNION SELECT relation_id FROM hop2_relations
)
SELECT relation_id FROM final_d2
"""


@register(
    "subgraph_expand_d2",
    oracle=_EXPAND2_SQL,
    description="degree-2 BFS expansion (knowledge_graph.py:258-358, degree loop)",
)
def subgraph_expand_d2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.graph.expand import expand_subgraph

    g = _graph(spark, sf_dir)
    res = expand_subgraph(g, _seed_entities(spark), degree=2, checkpoint=True)
    return res.relation_ids.select("relation_id")


# --- naive RAG standalone (#43: query_naive / retrieve_naive, rag.py:562-585)

_NAIVE_QUESTIONS = [
    ("q1", "what joins the customer data"),
    ("q2", "how fast is the merge sort"),
    ("q3", "which batch window orders rows"),
]

_NAIVE_Q_VALUES = ", ".join(f"({qid!r}, {q!r})" for qid, q in _NAIVE_QUESTIONS)

_NAIVE_SQL = f"""
WITH q(question_id, question) AS (VALUES {_NAIVE_Q_VALUES}),
qe AS (SELECT question_id, {mock_embedding_sql('question', _EMBED_DIM)} AS qv FROM q),
pe AS (SELECT doc_id, {mock_embedding_sql('text', _EMBED_DIM)} AS pv FROM documents),
scored AS (
  SELECT qe.question_id, pe.doc_id, round({_cos_sql('pe.pv', 'qe.qv')}, 6) AS score
  FROM pe CROSS JOIN qe
)
SELECT question_id, doc_id, score,
       CAST(row_number() OVER (PARTITION BY question_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
FROM scored
QUALIFY rank <= 3
"""


@register(
    "naive_rag_topk",
    oracle=_NAIVE_SQL,
    description="naive RAG standalone: embed question + passages (mock), cosine top-3 (rag.py:562-585)",
)
def naive_rag_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.functions.partitioning import (
        ensure_parallel_scan,
    )

    # under-parallel scan guard: full-text embedding map pass (see
    # eval_recall_harness)
    d = ensure_parallel_scan(load_table(spark, sf_dir, "documents"))
    pe = d.select("doc_id", mock_embedding("text", _EMBED_DIM).alias("pv"))
    q = inline_rows(spark, _NAIVE_QUESTIONS, "question_id string, question string")
    qe = q.select(
        "question_id", mock_embedding("question", _EMBED_DIM).alias("qv")
    )
    w = Window.partitionBy("question_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        pe.crossJoin(F.broadcast(qe))
        .withColumn("score", F.round(cosine("pv", "qv"), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("question_id", "doc_id", "score", "rank")
    )


# --- eval harness: per-question graph vs naive retrieval (evaluate.py:440-543)
#
# The reference's evaluation loop iterates questions, runs BOTH retrieval
# strategies, and tracks running mean recall per method.  Re-expressed as
# ONE DataFrame over a question table (the embarrassingly-parallel shape):
# per (question, method) recall@5 against the gold passage set, plus an
# '__all__' aggregate row per method (the running-mean endpoint).  Gold =
# passages mentioning the question's entity; graph method ranks passages by
# seed-relation support, naive method by mock-embedding cosine.

_HARNESS_K = 5

_HARNESS_SQL = f"""
WITH {TRIPS_CTE},
q(question) AS (VALUES {", ".join(f"({s!r})" for s in SEED_NAMES)}),
qe AS (
  SELECT question, sha256('entity:' || {norm_sql('question')}) AS entity_id,
         {mock_embedding_sql('question', _EMBED_DIM)} AS qv
  FROM q
),
entity_passage AS (
  SELECT DISTINCT er.entity_id, rp.passage_id
  FROM entity_relation er JOIN relation_passage rp ON rp.relation_id = er.relation_id
),
gold AS (
  SELECT qe.question, ep.passage_id
  FROM qe JOIN entity_passage ep ON ep.entity_id = qe.entity_id
),
graph_scored AS (
  SELECT qe.question, rp.passage_id, COUNT(DISTINCT er.relation_id) AS support
  FROM qe
  JOIN entity_relation er ON er.entity_id = qe.entity_id
  JOIN relation_passage rp ON rp.relation_id = er.relation_id
  GROUP BY qe.question, rp.passage_id
),
graph_top AS (
  SELECT question, passage_id FROM (
    SELECT question, passage_id,
           row_number() OVER (PARTITION BY question ORDER BY support DESC, passage_id ASC) AS rk
    FROM graph_scored
  ) WHERE rk <= {_HARNESS_K}
),
naive_scored AS (
  SELECT qe.question, CAST(d.doc_id AS VARCHAR) AS passage_id,
         round({_cos_sql(f"{mock_embedding_sql('d.text', _EMBED_DIM)}", 'qe.qv')}, 6) AS score
  FROM documents d CROSS JOIN qe
),
naive_top AS (
  SELECT question, passage_id FROM (
    SELECT question, passage_id,
           row_number() OVER (PARTITION BY question ORDER BY score DESC, passage_id ASC) AS rk
    FROM naive_scored
  ) WHERE rk <= {_HARNESS_K}
),
per_q AS (
  SELECT m.method, g.question,
         COUNT(*) AS n_gold,
         COUNT(*) FILTER (WHERE t.passage_id IS NOT NULL) AS n_hit
  FROM (VALUES ('graph'), ('naive')) m(method)
  CROSS JOIN gold g
  LEFT JOIN (
        SELECT 'graph' AS method, question, passage_id FROM graph_top
    UNION ALL
        SELECT 'naive', question, passage_id FROM naive_top
  ) t ON t.method = m.method AND t.question = g.question AND t.passage_id = g.passage_id
  GROUP BY m.method, g.question
),
per_q_recall AS (
  SELECT method, question, n_gold, n_hit,
         round(CAST(n_hit AS DOUBLE) / n_gold, 6) AS recall
  FROM per_q
)
SELECT method, question, n_gold, n_hit, recall FROM per_q_recall
UNION ALL
SELECT method, '__all__', CAST(SUM(n_gold) AS BIGINT), CAST(SUM(n_hit) AS BIGINT),
       round(AVG(recall), 6)
FROM per_q_recall GROUP BY method
"""


@register(
    "eval_recall_harness",
    oracle=_HARNESS_SQL,
    description="eval loop: per-question graph vs naive retrieval recall@5 + per-method mean (evaluate.py:440-543)",
)
def eval_recall_harness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.functions.text import entity_id as eid

    g = _graph(spark, sf_dir)
    q = inline_rows(spark, [(s,) for s in SEED_NAMES], "question string")
    qe = q.select(
        "question",
        eid("question").alias("entity_id"),
        mock_embedding("question", _EMBED_DIM).alias("qv"),
    )
    # the (entity, relation, passage) adjacency join feeds BOTH the gold
    # set and the graph-retrieval scoring — materialized once instead of
    # re-joining per consumer (graph-sized; measured 3.9 -> 3.3s warm at
    # sf0.1, the round-8 duplicated-subtree pattern)
    erp = (
        g.entity_relation.join(g.relation_passage, "relation_id")
        .select("entity_id", "relation_id", "passage_id")
        # lazy (r17): both consumers sit in the ONE final returned DAG —
        # the first stage that touches the RDD materializes it and the
        # other branch reads the cache, so the join still runs once with
        # no dedicated materialization job
        .localCheckpoint(eager=False)
    )
    ep = erp.select("entity_id", "passage_id").distinct()
    gold = F.broadcast(qe.select("question", "entity_id")).join(ep, "entity_id").select(
        "question", "passage_id"
    )
    graph_scored = (
        F.broadcast(qe.select("question", "entity_id"))
        .join(erp, "entity_id")
        .groupBy("question", "passage_id")
        .agg(F.count_distinct("relation_id").alias("support"))
    )
    w_g = Window.partitionBy("question").orderBy(F.desc("support"), F.asc("passage_id"))
    graph_top = (
        graph_scored.withColumn("rk", F.row_number().over(w_g))
        .filter(F.col("rk") <= _HARNESS_K)
        .select(F.lit("graph").alias("method"), "question", "passage_id")
    )
    # under-parallel scan guard (functions/partitioning, r18): the naive
    # leg's full-text mock embedding is the heaviest map pass of this row
    # (interleaved A/B on the leg: 3.64 -> 1.51s) and serializes on a
    # one-file corpus's single scan task; scores are row-local + rounded,
    # layout cannot change results
    from vector_graph_rag_spark.functions.partitioning import (
        ensure_parallel_scan,
    )

    d = ensure_parallel_scan(load_table(spark, sf_dir, "documents"))
    naive_scored = (
        d.select(
            F.col("doc_id").cast("string").alias("passage_id"),
            mock_embedding("text", _EMBED_DIM).alias("pv"),
        )
        .crossJoin(F.broadcast(qe.select("question", "qv")))
        .withColumn("score", F.round(cosine("pv", "qv"), 6))
    )
    w_n = Window.partitionBy("question").orderBy(F.desc("score"), F.asc("passage_id"))
    naive_top = (
        naive_scored.withColumn("rk", F.row_number().over(w_n))
        .filter(F.col("rk") <= _HARNESS_K)
        .select(F.lit("naive").alias("method"), "question", "passage_id")
    )
    tops = graph_top.unionByName(naive_top)
    methods = inline_rows(spark, [("graph",), ("naive",)], "method string")
    per_q = (
        F.broadcast(methods)
        .crossJoin(gold)
        .join(
            tops.withColumnRenamed("passage_id", "hit_passage"),
            ["method", "question"],
            "left",
        )
        .withColumn(
            "is_hit",
            F.when(F.col("hit_passage") == F.col("passage_id"), 1).otherwise(0),
        )
    )
    # A gold passage may join to several top-k rows; collapse to per
    # (method, question, passage) hit flags first, then count.
    per_pass = per_q.groupBy("method", "question", "passage_id").agg(
        F.max("is_hit").alias("hit")
    )
    per_q_recall = (
        per_pass.groupBy("method", "question")
        .agg(
            F.count(F.lit(1)).alias("n_gold"),
            F.sum("hit").alias("n_hit"),
        )
        .withColumn(
            "recall",
            F.round(F.col("n_hit").cast("double") / F.col("n_gold"), 6),
        )
    )
    alls = per_q_recall.groupBy("method").agg(
        F.lit("__all__").alias("question"),
        F.sum("n_gold").alias("n_gold"),
        F.sum("n_hit").alias("n_hit"),
        F.round(F.avg("recall"), 6).alias("recall"),
    )
    return per_q_recall.select("method", "question", "n_gold", "n_hit", "recall").unionByName(
        alls.select("method", "question", "n_gold", "n_hit", "recall")
    )

"""Extended coverage: the in-query IVF reference SQL, graph stats, answer
context assembly, NER-cache lookup, GROUPING SETS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.text import normalize_phrase
from vector_graph_rag_spark.queries import register
from vector_graph_rag_spark.queries.sql_common import TRIPS_CTE, dec, norm_sql
from vector_graph_rag_spark.queries.vector import _cos_sql
from vector_graph_rag_spark.sources.tables import load_table

# --- IVF-style ANN: coarse cells + nprobe=2 (second ANN family besides LSH) --
#
# The logical IVF search in SQL: the first 8 vectors are the centroids,
# every vector joins its argmax cell, each query probes its 2 best cells and
# scores their members exactly.  ``ann_ivf_index_search`` (queries/
# pipeline.py) uses it verbatim as its oracle, pinning stored-index search
# == logical IVF.

_IVF_SQL = f"""
WITH cent AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
              FROM embeddings WHERE vec_id < 8),
vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY round({_cos_sql('v.v', 'c.cvec')}, 6) DESC,
                                       c.centroid_id ASC) AS rk
    FROM vecs v CROSS JOIN cent c
  ) WHERE rk = 1
),
q AS (SELECT vec_id AS query_id, v AS qvec FROM vecs WHERE vec_id >= 100 AND vec_id < 105),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, c.centroid_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY round({_cos_sql('q.qvec', 'c.cvec')}, 6) DESC,
                                       c.centroid_id ASC) AS rk
    FROM q CROSS JOIN cent c
  ) WHERE rk <= 2
),
cand AS (
  SELECT p.query_id, a.vec_id FROM probes p JOIN assign a ON a.centroid_id = p.centroid_id
),
scored AS (
  SELECT cand.query_id, cand.vec_id,
         round({_cos_sql('v.v', 'q.qvec')}, 6) AS score
  FROM cand JOIN vecs v ON v.vec_id = cand.vec_id
  JOIN q ON q.query_id = cand.query_id
)
SELECT query_id, vec_id, score,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INT) AS rank
FROM scored
QUALIFY rank <= 10
"""


# --- graph stats (#44: rag.py:680-698, milvus.py:980-1014) ------------------

_STATS_SQL = f"""
WITH {TRIPS_CTE},
mentions AS (
      SELECT subj_entity_id AS id FROM trips
  UNION ALL
      SELECT obj_entity_id FROM trips
)
SELECT (SELECT COUNT(DISTINCT id) FROM mentions) AS n_entities,
       (SELECT COUNT(DISTINCT rel_id) FROM trips) AS n_relations,
       (SELECT COUNT(*) FROM docs) AS n_passages,
       (SELECT COUNT(*) FROM entity_relation) AS n_entity_relation_edges,
       (SELECT COUNT(*) FROM relation_passage) AS n_relation_passage_edges
"""


@register(
    "graph_stats",
    oracle=_STATS_SQL,
    description="collection stats: node/edge counts (rag.py:680-698, milvus.py:980-1014)",
)
def graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.queries.graphrag import _graph

    g = _graph(spark, sf_dir)
    return (
        g.entities.agg(F.count(F.lit(1)).alias("n_entities"))
        .crossJoin(g.relations.agg(F.count(F.lit(1)).alias("n_relations")))
        .crossJoin(g.passages.agg(F.count(F.lit(1)).alias("n_passages")))
        .crossJoin(
            g.entity_relation.agg(F.count(F.lit(1)).alias("n_entity_relation_edges"))
        )
        .crossJoin(
            g.relation_passage.agg(F.count(F.lit(1)).alias("n_relation_passage_edges"))
        )
    )


# --- answer context assembly (#36: reranker.py:299-384) ---------------------

_CONTEXT_SQL = """
WITH ranked AS (
  SELECT source, CAST(doc_id AS VARCHAR) AS doc_id, text,
         row_number() OVER (PARTITION BY source ORDER BY CAST(doc_id AS VARCHAR)) AS rk
  FROM documents
)
SELECT source,
       substr(string_agg(text, chr(10) || chr(10) ORDER BY doc_id), 1, 200) AS context_prefix,
       COUNT(*) AS n_passages
FROM ranked WHERE rk <= 3
GROUP BY source
"""


@register(
    "answer_context_assembly",
    oracle=_CONTEXT_SQL,
    description="context = '\\n\\n'.join(passages) assembly (reranker.py:357, answer gen input)",
)
def answer_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    top3 = d.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)
    ordered_texts = F.transform(
        F.array_sort(F.collect_list(F.struct("doc_id", "text"))), lambda x: x["text"]
    )
    return top3.groupBy("source").agg(
        F.substring(F.array_join(ordered_texts, "\n\n"), 1, 200).alias("context_prefix"),
        F.count(F.lit(1)).alias("n_passages"),
    )


# --- NER-cache lookup (#34: extractor.py:296-314,334-337) -------------------

_NER_FIXTURE = [
    ("which customer data does spark join", ["Spark", "customer DATA", "join!"]),
    ("is the merge sort fast", ["merge sort", "FAST"]),
    ("unknown things", ["flibber"]),
]

_NER_VALUES = ", ".join(
    f"({q!r}, {e!r})" for q, ents in _NER_FIXTURE for e in ents
)

_NER_SQL = f"""
WITH {TRIPS_CTE},
mentions AS (
      SELECT subj_entity_id AS id, {norm_sql('subject')} AS norm FROM trips
  UNION ALL
      SELECT obj_entity_id, {norm_sql('object')} FROM trips
),
known AS (SELECT DISTINCT id, norm FROM mentions),
cache(question, entity) AS (VALUES {_NER_VALUES}),
normed AS (
  SELECT question, entity, {norm_sql('entity')} AS norm FROM cache
)
SELECT n.question, n.norm AS entity_norm,
       CASE WHEN k.id IS NOT NULL THEN 1 ELSE 0 END AS in_graph
FROM normed n LEFT JOIN known k ON k.norm = n.norm
"""


@register(
    "ner_cache_lookup",
    oracle=_NER_SQL,
    description="pre-computed NER cache join + normalize + graph membership (extractor.py:296-375)",
)
def ner_cache_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.queries.graphrag import _graph

    g = _graph(spark, sf_dir)
    from vector_graph_rag_spark.functions.literals import inline_rows

    cache = inline_rows(
        spark,
        [(q, e) for q, ents in _NER_FIXTURE for e in ents],
        "question string, entity string",
    )
    normed = cache.select(
        "question", normalize_phrase("entity").alias("entity_norm")
    )
    known = (
        g.relations.select(normalize_phrase("subject").alias("norm"))
        .unionByName(g.relations.select(normalize_phrase("object").alias("norm")))
        .distinct()
        .withColumn("in_g", F.lit(1))
    )
    return (
        normed.join(F.broadcast(known), normed.entity_norm == known.norm, "left")
        .select(
            "question",
            "entity_norm",
            F.coalesce("in_g", F.lit(0)).alias("in_graph"),
        )
    )


# --- GROUPING SETS (completes the rollup/cube/grouping-sets trio) -----------

_GSETS_SQL = f"""
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(order_month, 'ALL') AS order_month,
       COUNT(*) AS n_orders,
       CAST(SUM({dec('o_totalprice')}) AS DOUBLE) AS total
FROM (SELECT o_orderpriority, strftime(date_trunc('month', o_orderdate), '%Y-%m') AS order_month,
             o_totalprice
      FROM orders)
GROUP BY GROUPING SETS ((o_orderpriority), (order_month))
"""


@register(
    "orders_grouping_sets",
    oracle=_GSETS_SQL,
    description="GROUPING SETS partial aggregates (by priority, by month) in one pass",
)
def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        "o_totalprice",
    )
    return spark.sql(
        """
        SELECT coalesce(o_orderpriority, 'ALL') AS priority,
               coalesce(order_month, 'ALL') AS order_month,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        FROM {o}
        GROUP BY GROUPING SETS ((o_orderpriority), (order_month))
        """,
        o=o,
    )

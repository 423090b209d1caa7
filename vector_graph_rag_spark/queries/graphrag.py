"""Graph-RAG operator queries — the reference's core surface (SURVEY §2 #12-32).

All run over a deterministic knowledge graph derived from the synthetic
`documents` table by the mock-OpenIE rule (graph/builder.py:
synthetic_triplet_docs), which stands in for the reference's LLM triplet
extractor in correctness runs (FIXTURES.md §3).  Each Spark implementation
has its byte-equivalent SQL twin built on sql_common.TRIPS_CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_graph_rag_spark.graph.builder import (
    adjacency_arrays,
    build_graph,
    synthetic_triplet_docs,
)
from vector_graph_rag_spark.graph.expand import expand_subgraph
from vector_graph_rag_spark.queries import register
from vector_graph_rag_spark.queries.sql_common import TRIPS_CTE, norm_sql
from vector_graph_rag_spark.sources.tables import load_table

# Fixed seed entity names for lookup/expansion queries (mock query-NER
# output — reference extractor.py:236-375 normalizes exactly like this).
SEED_NAMES = ["data", "spark", "join"]
_SEED_SQL_LIST = ", ".join(
    f"sha256('entity:' || {norm_sql(repr(s))})" for s in SEED_NAMES
)


# Bump when builder/derivation semantics change — invalidates materialized
# graph caches.
# v2: triplet-less passages get empty (not NULL) adjacency arrays;
# v3: adjacency stored once, as edge tables (entity_passage added).
_GRAPH_SCHEMA_VERSION = "v3"


def _graph(spark: SparkSession, sf_dir: str):
    """Materialized knowledge graph for a testdata SF.

    The reference indexes once into Milvus and queries the stored graph
    (rag.py:242-388); the equivalent here is build-once → parquet →
    scan-per-query.  The materialization is cached under /tmp keyed by
    (source dir, schema version); inputs are read-only and the build is
    deterministic, so the cache can never go stale within a version.
    """
    import os

    from vector_graph_rag_spark.sources.catalog import TABLE_NAMES, GraphCatalog

    name = "testdata_" + os.path.basename(sf_dir.rstrip("/")) + "_" + _GRAPH_SCHEMA_VERSION
    cat = GraphCatalog("/tmp/vgrag_spark_graphs")
    gdir = os.path.join(cat.root, name)
    complete = all(
        os.path.exists(os.path.join(gdir, f"{t}.parquet", "_SUCCESS"))
        for t in TABLE_NAMES
    )
    if not complete:
        docs = synthetic_triplet_docs(load_table(spark, sf_dir, "documents"))
        cat.write_graph(name, build_graph(docs))
    return cat.read_graph(spark, name)


def _seed_entities(spark: SparkSession) -> DataFrame:
    from vector_graph_rag_spark.functions.text import entity_id

    from vector_graph_rag_spark.functions.literals import inline_rows

    return inline_rows(
        spark, [(s,) for s in SEED_NAMES], "name string"
    ).select(entity_id("name").alias("entity_id"))


# --- graph build: entities (dedup on normalized name, builder.py:76-85) -----

_ENTITIES_SQL = f"""
WITH {TRIPS_CTE},
mentions AS (
      SELECT subj_entity_id AS id, subject AS name, passage_id, tidx, 0 AS part FROM trips
  UNION ALL
      SELECT obj_entity_id, object, passage_id, tidx, 1 FROM trips
),
firsts AS (
  SELECT id, name,
         row_number() OVER (PARTITION BY id ORDER BY passage_id, tidx, part) AS rn
  FROM mentions
)
SELECT f.id, f.name,
       (SELECT COUNT(DISTINCT m.passage_id) FROM mentions m WHERE m.id = f.id) AS n_passages,
       (SELECT COUNT(*) FROM entity_relation er WHERE er.entity_id = f.id) AS n_relations
FROM firsts f WHERE f.rn = 1
"""


@register("graph_build_entities", oracle=_ENTITIES_SQL, description="entity dedup + adjacency counts (builder.py:76-95)")
def graph_build_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = adjacency_arrays(_graph(spark, sf_dir))
    return g.entities.select(
        "id",
        "name",
        F.size("passage_ids").cast("bigint").alias("n_passages"),
        F.size("relation_ids").cast("bigint").alias("n_relations"),
    )


# --- graph build: relations (dedup on normalized s-p-o, builder.py:97-109) --

_RELATIONS_SQL = f"""
WITH {TRIPS_CTE},
firsts AS (
  SELECT rel_id AS id, rel_text AS text, subject, predicate, object,
         subj_entity_id AS src_entity_id, obj_entity_id AS dst_entity_id,
         row_number() OVER (PARTITION BY rel_id ORDER BY passage_id, tidx) AS rn
  FROM trips
)
SELECT f.id, f.text, f.subject, f.predicate, f.object, f.src_entity_id, f.dst_entity_id,
       (SELECT COUNT(*) FROM relation_passage rp WHERE rp.relation_id = f.id) AS n_passages
FROM firsts f WHERE f.rn = 1
"""


@register("graph_build_relations", oracle=_RELATIONS_SQL, description="relation dedup + first-seen S/P/O (builder.py:97-134)")
def graph_build_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = adjacency_arrays(_graph(spark, sf_dir))
    return g.relations.select(
        "id",
        "text",
        "subject",
        "predicate",
        "object",
        "src_entity_id",
        "dst_entity_id",
        F.size("passage_ids").cast("bigint").alias("n_passages"),
    )


# --- graph build: passages with adjacency arrays (rag.py:347-352) -----------

_PASSAGES_SQL = f"""
WITH {TRIPS_CTE},
mentions AS (
      SELECT subj_entity_id AS eid, passage_id FROM trips
  UNION ALL
      SELECT obj_entity_id, passage_id FROM trips
)
SELECT d.doc_id AS id,
       (SELECT array_to_string(list_sort(list(DISTINCT m.eid)), ',')
          FROM mentions m WHERE m.passage_id = d.doc_id) AS entity_ids_csv,
       (SELECT array_to_string(list_sort(list(DISTINCT rp.relation_id)), ',')
          FROM relation_passage rp WHERE rp.passage_id = d.doc_id) AS relation_ids_csv
FROM docs d
"""


@register("graph_build_passages", oracle=_PASSAGES_SQL, description="passage adjacency arrays (rag.py:347-352)")
def graph_build_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = adjacency_arrays(_graph(spark, sf_dir))
    return g.passages.select(
        "id",
        F.array_join("entity_ids", ",").alias("entity_ids_csv"),
        F.array_join("relation_ids", ",").alias("relation_ids_csv"),
    )


# --- k-hop expansion (knowledge_graph.py:258-358) ---------------------------

_EXPAND_SQL = f"""
WITH {TRIPS_CTE},
seeds AS (SELECT sha256('entity:' || {norm_sql('s.name')}) AS entity_id
          FROM (VALUES {", ".join(f"({s!r})" for s in SEED_NAMES)}) s(name)),
step0 AS (  -- relations adjacent to seed entities (knowledge_graph.py:281-301)
  SELECT DISTINCT er.relation_id FROM entity_relation er
  JOIN seeds s ON er.entity_id = s.entity_id
),
hop_entities AS (  -- entities of those relations (:309-320)
  SELECT DISTINCT er.entity_id FROM entity_relation er
  JOIN step0 r ON er.relation_id = r.relation_id
),
new_entities AS (
  SELECT entity_id FROM hop_entities
  EXCEPT SELECT entity_id FROM seeds
),
hop_relations AS (  -- only NEW entities spawn next-hop relations (:322-333)
  SELECT DISTINCT er.relation_id FROM entity_relation er
  JOIN new_entities n ON er.entity_id = n.entity_id
),
final_relations AS (
  SELECT relation_id FROM step0 UNION SELECT relation_id FROM hop_relations
)
SELECT relation_id FROM final_relations
"""


@register("subgraph_expand_d1", oracle=_EXPAND_SQL, description="degree-1 BFS expansion (knowledge_graph.py:258-358)")
def subgraph_expand_d1(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _graph(spark, sf_dir)
    res = expand_subgraph(g, _seed_entities(spark), degree=1)
    return res.relation_ids.select("relation_id")


# --- eviction, no-eviction branch: lexicographic id sort (retriever.py:263-265)

_EVICT_SORT_SQL = f"""
WITH {TRIPS_CTE},
candidates AS (
  SELECT DISTINCT rel_id AS relation_id FROM trips WHERE predicate = 'publishes'
)
SELECT relation_id,
       row_number() OVER (ORDER BY relation_id) AS evict_order
FROM candidates
"""


@register("eviction_sorted_ids", oracle=_EVICT_SORT_SQL, description="no-eviction branch: lexicographic sort (retriever.py:263-265)")
def eviction_sorted_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.operators.eviction import apply_eviction

    g = _graph(spark, sf_dir)
    candidates = g.relations.filter(F.col("predicate") == "publishes").select(
        F.col("id").alias("relation_id")
    )
    kept, _stats = apply_eviction(
        candidates, g.relations, query_vec=[], threshold=10**9
    )
    return kept.select("relation_id", "evict_order")


# --- relation→passage fan-out with first-seen order dedup (rag.py:161-194) --

_FANOUT_SQL = f"""
WITH {TRIPS_CTE},
sel AS (  -- mock rerank output: 'publishes' relations in id order (rag.py:513-515)
  SELECT relation_id, row_number() OVER (ORDER BY relation_id) AS sel_order
  FROM (SELECT DISTINCT rel_id AS relation_id FROM trips WHERE predicate = 'publishes')
),
fan AS (
  SELECT rp.passage_id, s.sel_order, rp.relation_id,
         row_number() OVER (PARTITION BY rp.passage_id ORDER BY s.sel_order, rp.relation_id) AS seen
  FROM relation_passage rp JOIN sel s ON rp.relation_id = s.relation_id
)
SELECT passage_id, sel_order AS first_from_order FROM fan WHERE seen = 1
"""


@register("passage_fanout_dedup", oracle=_FANOUT_SQL, description="ordered passage fan-out + first-seen dedup (rag.py:161-194)")
def passage_fanout_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _graph(spark, sf_dir)
    # sel_order = position in the ordered selection list.  In the reference
    # this list is the rerank OUTPUT (≤ rerank_num_select relations,
    # rag.py:513-515), so the unpartitioned ranking window is bounded by
    # contract; the query exercises it wider only to get a meaningful row
    # count out of the synthetic graph.
    w_sel = Window.orderBy("relation_id")
    sel = (
        g.relations.filter(F.col("predicate") == "publishes")
        .select(F.col("id").alias("relation_id"))
        .withColumn("sel_order", F.row_number().over(w_sel))
    )
    fan = g.relation_passage.join(sel, "relation_id")
    w_seen = Window.partitionBy("passage_id").orderBy("sel_order", "relation_id")
    return (
        fan.withColumn("seen", F.row_number().over(w_seen))
        .filter(F.col("seen") == 1)
        .select("passage_id", F.col("sel_order").alias("first_from_order"))
    )


# --- 1-hop neighbors API (graph.py:701-734, api/app.py:697-761) -------------

_NEIGHBORS_SQL = f"""
WITH {TRIPS_CTE},
seed AS (SELECT sha256('entity:' || {norm_sql("'data'")}) AS entity_id),
rels AS (
  SELECT DISTINCT er.relation_id FROM entity_relation er JOIN seed s ON er.entity_id = s.entity_id
),
nbrs AS (
  SELECT DISTINCT er.entity_id FROM entity_relation er
  JOIN rels r ON er.relation_id = r.relation_id
  WHERE er.entity_id <> (SELECT entity_id FROM seed)
)
SELECT entity_id FROM nbrs ORDER BY entity_id LIMIT 20
"""


@register("entity_neighbors", oracle=_NEIGHBORS_SQL, description="1-hop neighbors with limit (api/app.py:697-761)")
def entity_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.functions.text import entity_id as eid

    g = _graph(spark, sf_dir)
    from vector_graph_rag_spark.functions.literals import inline_rows

    seed = inline_rows(spark, [("data",)], "name string").select(
        eid("name").alias("entity_id")
    )
    rels = g.entity_relation.join(F.broadcast(seed), "entity_id").select("relation_id").distinct()
    nbrs = (
        g.entity_relation.join(rels, "relation_id")
        .join(F.broadcast(seed), "entity_id", "left_anti")
        .select("entity_id")
        .distinct()
    )
    return nbrs.orderBy("entity_id").limit(20)


# --- recall@k evaluator (evaluate.py:177-229) -------------------------------

_RECALL_SQL = """
WITH gold AS (
  SELECT lang, CAST(doc_id AS VARCHAR) AS doc_id FROM documents WHERE n_chars > 400
),
retrieved AS (
  SELECT lang, CAST(doc_id AS VARCHAR) AS doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM documents
),
ks AS (SELECT k FROM (VALUES (1),(5),(10),(20)) t(k)),
hits AS (
  SELECT r.lang, k.k,
         COUNT(*) FILTER (WHERE g.doc_id IS NOT NULL AND r.rk <= k.k) AS n_hit
  FROM retrieved r
  CROSS JOIN ks k
  LEFT JOIN gold g ON g.lang = r.lang AND g.doc_id = r.doc_id
  GROUP BY r.lang, k.k
),
gold_sizes AS (SELECT lang, COUNT(*) AS n_gold FROM gold GROUP BY lang)
SELECT h.lang, h.k, CAST(h.n_hit AS DOUBLE) / gs.n_gold AS recall
FROM hits h JOIN gold_sizes gs ON h.lang = gs.lang
"""


@register("recall_at_k", oracle=_RECALL_SQL, description="recall@k evaluator (evaluate.py:177-229)")
def recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    gold = d.filter(F.col("n_chars") > 400).select(
        "lang", F.col("doc_id").cast("string").alias("doc_id")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc(F.col("doc_id").cast("string")))
    retrieved = d.select(
        "lang", F.col("doc_id").cast("string").alias("doc_id"), F.col("n_chars")
    ).withColumn("rk", F.row_number().over(w))
    from vector_graph_rag_spark.functions.literals import inline_rows

    ks = inline_rows(spark, [(1,), (5,), (10,), (20,)], "k int")
    hits = (
        retrieved.crossJoin(F.broadcast(ks))
        .join(
            gold.withColumnRenamed("doc_id", "gold_doc").withColumnRenamed("lang", "gold_lang"),
            (F.col("gold_lang") == F.col("lang")) & (F.col("gold_doc") == F.col("doc_id")),
            "left",
        )
        .groupBy("lang", "k")
        .agg(
            F.count(
                F.when(F.col("gold_doc").isNotNull() & (F.col("rk") <= F.col("k")), 1)
            ).alias("n_hit")
        )
    )
    gold_sizes = gold.groupBy("lang").agg(F.count(F.lit(1)).alias("n_gold"))
    return hits.join(gold_sizes, "lang").select(
        "lang", "k", (F.col("n_hit").cast("double") / F.col("n_gold")).alias("recall")
    )


# --- beam-bounded 2-hop path enumeration ------------------------------------
#
# Multi-hop reasoning paths (the explainability view of expansion): from the
# seed entities, enumerate e0 -[r1]-> e1 -[r2]-> e2 paths over the
# undirected relation graph.  Fan-out is BEAM-CAPPED at 5 edges per source
# entity (deterministic: order by relation id, neighbor id) — unbounded path
# enumeration is combinatorial at 100 TB, the beam keeps candidate volume
# linear in frontier size, the same trade the eviction threshold makes.

_BEAM_WIDTH = 5

_PATHS_SQL = f"""
WITH {TRIPS_CTE},
dir_edges AS (
  SELECT DISTINCT src, dst, rel_id FROM (
        SELECT subj_entity_id AS src, obj_entity_id AS dst, rel_id FROM trips
    UNION ALL
        SELECT obj_entity_id, subj_entity_id, rel_id FROM trips
  ) WHERE src <> dst
),
beam AS (
  SELECT src, dst, rel_id FROM (
    SELECT *, row_number() OVER (PARTITION BY src ORDER BY rel_id, dst) AS rk
    FROM dir_edges
  ) WHERE rk <= {_BEAM_WIDTH}
),
seeds AS (SELECT unnest([{_SEED_SQL_LIST}]) AS entity_id)
SELECT s.entity_id AS entity0, b1.rel_id AS rel1, b1.dst AS entity1,
       b2.rel_id AS rel2, b2.dst AS entity2
FROM seeds s
JOIN beam b1 ON b1.src = s.entity_id
JOIN beam b2 ON b2.src = b1.dst
WHERE b2.rel_id <> b1.rel_id AND b2.dst <> b1.dst AND b2.dst <> s.entity_id
"""


@register(
    "entity_2hop_paths_beam",
    oracle=_PATHS_SQL,
    description="beam-capped 2-hop path enumeration from seeds (multi-hop reasoning paths, bounded fan-out)",
)
def entity_2hop_paths_beam(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _graph(spark, sf_dir)
    fwd = g.relations.select(
        F.col("src_entity_id").alias("src"),
        F.col("dst_entity_id").alias("dst"),
        F.col("id").alias("rel_id"),
    )
    rev = g.relations.select(
        F.col("dst_entity_id").alias("src"),
        F.col("src_entity_id").alias("dst"),
        F.col("id").alias("rel_id"),
    )
    dir_edges = fwd.unionByName(rev).filter(F.col("src") != F.col("dst")).distinct()
    w = Window.partitionBy("src").orderBy(F.asc("rel_id"), F.asc("dst"))
    beam = (
        dir_edges.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BEAM_WIDTH)
        .select("src", "dst", "rel_id")
    )
    seeds = _seed_entities(spark)
    # hop 1 is seed-bounded (|seeds| * beam) — broadcast it into hop 2.
    hop1 = beam.join(
        F.broadcast(seeds), beam.src == seeds.entity_id, "inner"
    ).select(
        F.col("entity_id").alias("entity0"),
        F.col("rel_id").alias("rel1"),
        F.col("dst").alias("entity1"),
    )
    b2 = beam.select(
        F.col("src").alias("b2_src"),
        F.col("dst").alias("entity2"),
        F.col("rel_id").alias("rel2"),
    )
    return (
        b2.join(F.broadcast(hop1), F.col("b2_src") == F.col("entity1"))
        .filter(
            (F.col("rel2") != F.col("rel1"))
            & (F.col("entity2") != F.col("entity1"))
            & (F.col("entity2") != F.col("entity0"))
        )
        .select("entity0", "rel1", "entity1", "rel2", "entity2")
    )


# --- the flagship, oracle-checked (#39/#42: retrieve_passages) --------------
#
# entry()'s full pipeline — mock-NER seeds → degree-1 expansion →
# relation→passage support counting → top-3 — declared so the flagship
# composite itself is hash-gated against DuckDB, not just smoke-checked.

_FULL_QUERY_SQL = f"""
WITH {TRIPS_CTE},
seeds AS (SELECT sha256('entity:' || {norm_sql('s.name')}) AS entity_id
          FROM (VALUES {", ".join(f"({s!r})" for s in SEED_NAMES)}) s(name)),
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
),
scored AS (
  SELECT rp.passage_id, COUNT(*) AS n_supporting_relations
  FROM relation_passage rp
  JOIN final_relations fr ON fr.relation_id = rp.relation_id
  GROUP BY rp.passage_id
),
ranked AS (
  SELECT passage_id, n_supporting_relations,
         CAST(row_number() OVER (ORDER BY n_supporting_relations DESC, passage_id ASC) AS INT) AS rank
  FROM scored
)
SELECT r.passage_id, r.rank, r.n_supporting_relations, d.text
FROM ranked r JOIN docs d ON d.doc_id = r.passage_id
WHERE r.rank <= 3
"""


@register(
    "graph_rag_full_query",
    oracle=_FULL_QUERY_SQL,
    description="flagship composite oracle-checked: seeds -> d1 expansion -> support-count rerank -> top-3 passages (rag.py:587-647)",
)
def graph_rag_full_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.graph.retrieve import retrieve_passages

    g = _graph(spark, sf_dir)
    return retrieve_passages(g, _seed_entities(spark), degree=1, final_top_k=3)

"""Online CRUD with cascade semantics over immutable storage.

The reference's Graph facade does per-record read-modify-upsert against
Milvus (graph.py:102-672).  On Spark the same semantics are pure DataFrame
transforms — each op takes the five GraphTables and returns new
GraphTables; the caller persists via GraphCatalog.replace_graph (or an
external MERGE-capable table format when available).

Cascade-delete parity (graph.py:634-672 passages, :430-475 relations,
:237-282 entities): deleting a node removes its row and strips its id from
adjacent nodes' adjacency ARRAYS — the adjacent nodes are KEPT even when
an array becomes empty (the reference only rewrites the arrays).  The
array surgery is `array_except` against the (small) doomed-id set; the
normalized edge tables take plain anti-join row deletes — the 100 TB path,
since no unbounded array rewrite is ever needed for joins, only for the
parity views.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.literals import inline_rows
from vector_graph_rag_spark.graph.builder import GraphTables


def _id_list(ids_or_df) -> list[str]:
    """CRUD in the reference is point-wise (one or a few ids per call,
    graph.py:634-672); a driver-side list keeps the array surgery a
    broadcast-able literal.  Bulk deletes should go through rebuild."""
    if isinstance(ids_or_df, DataFrame):
        col = ids_or_df.columns[0]
        return [r[col] for r in ids_or_df.select(col).distinct().collect()]
    return list(ids_or_df)


def _strip(col_name: str, doomed: list[str]):
    return F.array_except(F.coalesce(F.col(col_name), F.array()), F.lit(doomed))


def _anti(df: DataFrame, doomed: DataFrame, key: str) -> DataFrame:
    """Rows of ``df`` whose ``key`` is not in ``doomed``, in ``df``'s own
    column order (a USING join moves the key first, and the catalog
    refuses tables whose order differs from its declared schemas)."""
    return df.join(doomed, key, "left_anti").select(*df.columns)


def delete_passages(g: GraphTables, passage_ids) -> GraphTables:
    """Cascade passage delete (graph.py:634-672): drop passage rows and
    relation→passage edges; strip the ids from entities'/relations'
    passage_ids arrays; keep the nodes themselves."""
    doomed = _id_list(passage_ids)
    spark = g.passages.sparkSession
    doomed_df = inline_rows(spark, [(i,) for i in doomed], "passage_id string")
    return GraphTables(
        entities=g.entities.withColumn("passage_ids", _strip("passage_ids", doomed)),
        relations=g.relations.withColumn("passage_ids", _strip("passage_ids", doomed)),
        passages=_anti(g.passages, doomed_df.withColumnRenamed("passage_id", "id"), "id"),
        entity_relation=g.entity_relation,
        relation_passage=_anti(g.relation_passage, F.broadcast(doomed_df), "passage_id"),
    )


def delete_relations(g: GraphTables, relation_ids) -> GraphTables:
    """Cascade relation delete (graph.py:430-475): drop relation rows and
    their edges; strip ids from entities'/passages' relation_ids arrays."""
    doomed = _id_list(relation_ids)
    spark = g.relations.sparkSession
    doomed_df = inline_rows(spark, [(i,) for i in doomed], "relation_id string")
    return GraphTables(
        entities=g.entities.withColumn("relation_ids", _strip("relation_ids", doomed)),
        relations=_anti(g.relations, doomed_df.withColumnRenamed("relation_id", "id"), "id"),
        passages=g.passages.withColumn("relation_ids", _strip("relation_ids", doomed)),
        entity_relation=_anti(g.entity_relation, F.broadcast(doomed_df), "relation_id"),
        relation_passage=_anti(g.relation_passage, F.broadcast(doomed_df), "relation_id"),
    )


def delete_entities(g: GraphTables, entity_ids) -> GraphTables:
    """Cascade entity delete (graph.py:237-282): drop entity rows and
    entity→relation edges; strip ids from passages' entity_ids arrays."""
    doomed = _id_list(entity_ids)
    spark = g.entities.sparkSession
    doomed_df = inline_rows(spark, [(i,) for i in doomed], "entity_id string")
    return GraphTables(
        entities=_anti(g.entities, doomed_df.withColumnRenamed("entity_id", "id"), "id"),
        relations=g.relations,
        passages=g.passages.withColumn("entity_ids", _strip("entity_ids", doomed)),
        entity_relation=_anti(g.entity_relation, F.broadcast(doomed_df), "entity_id"),
        relation_passage=g.relation_passage,
    )


def upsert_passages(g: GraphTables, new_docs: DataFrame) -> GraphTables:
    """Create-or-replace passages from documents-with-triplets
    (create_passage semantics, graph.py:479-554: auto-creates relations and
    entities; existing nodes win on dedup-key collision)."""
    from vector_graph_rag_spark.graph.builder import build_graph

    delta = build_graph(new_docs)
    base = delete_passages(
        g, new_docs.select(F.col("doc_id").alias("passage_id"))
    )

    def _first_wins(old: DataFrame, new: DataFrame) -> DataFrame:
        return old.unionByName(new.join(old.select("id"), "id", "left_anti"))

    # Adjacency arrays on colliding nodes must merge old+new; recompute the
    # union arrays from the merged edge tables for correctness.
    entity_relation = base.entity_relation.unionByName(delta.entity_relation).distinct()
    relation_passage = base.relation_passage.unionByName(delta.relation_passage).distinct()
    entities = _merge_entity_arrays(
        _first_wins(base.entities, delta.entities), entity_relation, relation_passage
    )
    relations = _merge_relation_arrays(
        _first_wins(base.relations, delta.relations), relation_passage
    )
    passages = base.passages.unionByName(delta.passages)
    return GraphTables(
        entities=entities,
        relations=relations,
        passages=passages,
        entity_relation=entity_relation,
        relation_passage=relation_passage,
    )


def _merge_entity_arrays(entities, entity_relation, relation_passage):
    ent_rel = entity_relation.groupBy("entity_id").agg(
        F.sort_array(F.collect_set("relation_id")).alias("__rel")
    )
    ent_pass = (
        entity_relation.join(relation_passage, "relation_id")
        .select("entity_id", "passage_id")
        .distinct()
        .groupBy("entity_id")
        .agg(F.sort_array(F.collect_set("passage_id")).alias("__pass"))
    )
    return (
        entities.join(ent_rel.withColumnRenamed("entity_id", "id"), "id", "left")
        .join(ent_pass.withColumnRenamed("entity_id", "id"), "id", "left")
        .withColumn("relation_ids", F.coalesce("__rel", F.array()))
        .withColumn("passage_ids", F.coalesce("__pass", F.array()))
        .drop("__rel", "__pass")
    )


def _merge_relation_arrays(relations, relation_passage):
    rel_pass = relation_passage.groupBy("relation_id").agg(
        F.sort_array(F.collect_set("passage_id")).alias("__pass")
    )
    return (
        relations.join(rel_pass.withColumnRenamed("relation_id", "id"), "id", "left")
        .withColumn("passage_ids", F.coalesce("__pass", F.array()))
        .drop("__pass")
    )

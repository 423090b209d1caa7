"""Online CRUD with cascade semantics over immutable storage.

The reference's Graph facade does per-record read-modify-upsert against
Milvus (graph.py:102-672).  On Spark the same semantics are pure DataFrame
transforms — each op takes the six GraphTables and returns new
GraphTables; the caller persists via GraphCatalog.replace_graph (or an
external MERGE-capable table format when available).

Cascade-delete parity (graph.py:634-672 passages, :430-475 relations,
:237-282 entities): deleting a node removes its row and its edges; the
adjacent nodes are KEPT even when they are left without edges (the
reference only rewrites their id arrays).  Each id the reference strips
from an array is one edge row here, so every cascade is a set of
anti-joins on node and edge tables, and the arrays read through
``graph/builder.adjacency_arrays`` come out as the reference's.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame

from vector_graph_rag_spark.functions.literals import inline_rows
from vector_graph_rag_spark.graph.builder import GraphTables, build_graph


def _doomed(g: GraphTables, ids) -> DataFrame:
    """The ids to delete as a one-column frame: an id DataFrame as it is
    (its first column), an id list as an inline literal."""
    if isinstance(ids, DataFrame):
        return ids.select(ids.columns[0])
    return inline_rows(g.passages.sparkSession, [(i,) for i in ids], "id string")


def _anti(df: DataFrame, key: str, doomed: DataFrame) -> DataFrame:
    """Rows of ``df`` whose ``key`` is not in ``doomed``, in ``df``'s own
    column order (a USING join moves the key first, and the catalog
    refuses tables whose order differs from its declared schemas)."""
    return df.join(doomed.toDF(key), key, "left_anti").select(*df.columns)


def delete_passages(g: GraphTables, passage_ids) -> GraphTables:
    """Cascade passage delete (graph.py:634-672): drop passage rows and
    their relation and entity edges; keep the entities and relations."""
    doomed = _doomed(g, passage_ids)
    return dataclasses.replace(
        g,
        passages=_anti(g.passages, "id", doomed),
        relation_passage=_anti(g.relation_passage, "passage_id", doomed),
        entity_passage=_anti(g.entity_passage, "passage_id", doomed),
    )


def delete_relations(g: GraphTables, relation_ids) -> GraphTables:
    """Cascade relation delete (graph.py:430-475): drop relation rows and
    their entity and passage edges; mentions (entity↔passage) stay."""
    doomed = _doomed(g, relation_ids)
    return dataclasses.replace(
        g,
        relations=_anti(g.relations, "id", doomed),
        entity_relation=_anti(g.entity_relation, "relation_id", doomed),
        relation_passage=_anti(g.relation_passage, "relation_id", doomed),
    )


def delete_entities(g: GraphTables, entity_ids) -> GraphTables:
    """Cascade entity delete (graph.py:237-282): drop entity rows and
    their relation and passage edges; relations keep their endpoints."""
    doomed = _doomed(g, entity_ids)
    return dataclasses.replace(
        g,
        entities=_anti(g.entities, "id", doomed),
        entity_relation=_anti(g.entity_relation, "entity_id", doomed),
        entity_passage=_anti(g.entity_passage, "entity_id", doomed),
    )


def upsert_passages(g: GraphTables, new_docs: DataFrame) -> GraphTables:
    """Create-or-replace passages from documents-with-triplets
    (create_passage semantics, graph.py:479-554: auto-creates relations and
    entities; existing nodes win on dedup-key collision).  A replaced
    passage loses its old edges; the edge tables are the distinct union
    of the kept and the new edges."""
    delta = build_graph(new_docs)
    base = delete_passages(g, new_docs.select("doc_id"))

    def first_wins(t: str) -> DataFrame:
        old, new = getattr(base, t), getattr(delta, t)
        return old.unionByName(new.join(old.select("id"), "id", "left_anti"))

    def edges(t: str) -> DataFrame:
        return getattr(base, t).unionByName(getattr(delta, t)).distinct()

    return GraphTables(
        entities=first_wins("entities"),
        relations=first_wins("relations"),
        passages=base.passages.unionByName(delta.passages),
        entity_relation=edges("entity_relation"),
        relation_passage=edges("relation_passage"),
        entity_passage=edges("entity_passage"),
    )

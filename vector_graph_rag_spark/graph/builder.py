"""Graph construction: documents + triplets → six graph tables.

Re-expresses the reference's in-memory GraphBuilder
(/root/reference/src/vector_graph_rag/graph/builder.py:49-197) as pure
relational algebra:

- entity dedup on normalized lowercase name (builder.py:62,76-85) — the
  *stored* name is the FIRST-SEEN raw form; we replicate "first seen" with an
  explicit arrival order (doc order, triplet index, subject-before-object)
  so the result is deterministic and oracle-checkable (SURVEY §7 risk list).
- relation dedup on normalized "s p o" text (builder.py:63,97-109).
- the six adjacency relationships (builder.py:69-74) are stored once each,
  as three edge tables `entity_relation`, `relation_passage` and
  `entity_passage`; the node tables hold no adjacency.  Graph steps are
  joins over these tables, and a delete is an anti-join of edge rows.

The reference keeps adjacency as id arrays on each node (Milvus dynamic
fields, rag.py:320-352).  Here those arrays are a read-side view,
``adjacency_arrays``, built only by the readers that return arrays or
their sizes.

Scale design (100 TB): every groupBy shuffles on the dedup key, which is
exactly the partitioning later joins want; the window that picks the
first-seen form partitions by the same key, so Catalyst reuses one shuffle
for dedup + representative-selection.  No driver loops, no collects.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.text import (
    entity_id,
    normalize_phrase,
    relation_id,
    relation_text,
)


@dataclasses.dataclass
class GraphTables:
    """The six tables of one graph (SURVEY §1.4): three node tables and
    one edge table per adjacency."""

    entities: DataFrame          # id, name
    relations: DataFrame         # id, text, subject, predicate, object,
                                 # src_entity_id, dst_entity_id
    passages: DataFrame          # id, text
    entity_relation: DataFrame   # entity_id, relation_id
    relation_passage: DataFrame  # relation_id, passage_id
    entity_passage: DataFrame    # entity_id, passage_id (mentions)


def synthetic_triplet_docs(documents: DataFrame) -> DataFrame:
    """Deterministic mock OpenIE over the driver's synthetic `documents`
    table — stands in for the reference's LLM triplet extractor
    (llm/extractor.py:83-233) in all correctness runs (FIXTURES.md §3).

    Rule (SQL-expressible, replicated verbatim in the DuckDB oracle):
    tokens = split(text, ' '); triplets =
      (tok1, tok2, tok3), (tok4, tok5, tok6), (tok7, tok8, tok9),
      (source, 'publishes', tok1).
    Output: doc_id(string), text, triplets array<struct<subject,predicate,object>>.
    """
    tok = lambda n: F.element_at(F.split(F.col("text"), " "), n)  # noqa: E731
    trip = lambda s, p, o: F.struct(  # noqa: E731
        s.alias("subject"), p.alias("predicate"), o.alias("object")
    )
    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "text",
        F.array(
            trip(tok(1), tok(2), tok(3)),
            trip(tok(4), tok(5), tok(6)),
            trip(tok(7), tok(8), tok(9)),
            trip(F.col("source"), F.lit("publishes"), tok(1)),
        ).alias("triplets"),
    )


def explode_triplets(docs: DataFrame) -> DataFrame:
    """docs(doc_id, text, triplets) → one row per triplet with arrival order
    and normalized keys/ids.

    Columns: passage_id, tidx, subject, predicate, object, subject_norm,
    object_norm, rel_text, rel_norm, rel_id, subj_entity_id, obj_entity_id.
    """
    t = docs.select(
        F.col("doc_id").alias("passage_id"),
        F.posexplode("triplets").alias("tidx", "trip"),
    ).select(
        "passage_id",
        "tidx",
        F.col("trip.subject").alias("subject"),
        F.col("trip.predicate").alias("predicate"),
        F.col("trip.object").alias("object"),
    )
    return (
        t.withColumn("subject_norm", normalize_phrase("subject"))
        .withColumn("object_norm", normalize_phrase("object"))
        .withColumn("rel_text", relation_text("subject", "predicate", "object"))
        .withColumn("rel_norm", normalize_phrase(relation_text("subject", "predicate", "object")))
        .withColumn("rel_id", relation_id(relation_text("subject", "predicate", "object")))
        .withColumn("subj_entity_id", entity_id("subject"))
        .withColumn("obj_entity_id", entity_id("object"))
    )


def build_graph(docs: DataFrame) -> GraphTables:
    """documents+triplets → GraphTables (reference builder.py:159-197)."""
    trips = explode_triplets(docs)

    # ---- entities: mentions from subject (part=0) and object (part=1) slots.
    mentions = trips.select(
        F.col("subj_entity_id").alias("id"),
        F.col("subject").alias("name"),
        F.col("subject_norm").alias("norm"),
        "passage_id",
        "tidx",
        F.lit(0).alias("part"),
    ).unionByName(
        trips.select(
            F.col("obj_entity_id").alias("id"),
            F.col("object").alias("name"),
            F.col("object_norm").alias("norm"),
            "passage_id",
            "tidx",
            F.lit(1).alias("part"),
        )
    )
    # first-seen raw name per normalized key (builder.py:76-85): arrival
    # order = (passage_id, tidx, subject-before-object).
    w_first = Window.partitionBy("id").orderBy("passage_id", "tidx", "part")
    entity_names = (
        mentions.withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") == 1)
        .select("id", "name")
    )
    entity_passage = mentions.select("id", "passage_id").distinct().withColumnRenamed("id", "entity_id")

    # ---- relations: dedup on normalized "s p o"; first-seen raw S/P/O.
    w_rel = Window.partitionBy("rel_id").orderBy("passage_id", "tidx")
    relations_core = (
        trips.withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") == 1)
        .select(
            F.col("rel_id").alias("id"),
            F.col("rel_text").alias("text"),
            "subject",
            "predicate",
            "object",
            F.col("subj_entity_id").alias("src_entity_id"),
            F.col("obj_entity_id").alias("dst_entity_id"),
        )
    )
    relation_passage = (
        trips.select(F.col("rel_id").alias("relation_id"), "passage_id").distinct()
    )
    # entity→relation adjacency covers BOTH endpoints (builder.py:110-121).
    entity_relation = (
        trips.select(F.col("subj_entity_id").alias("entity_id"), F.col("rel_id").alias("relation_id"))
        .unionByName(
            trips.select(F.col("obj_entity_id").alias("entity_id"), F.col("rel_id").alias("relation_id"))
        )
        .distinct()
    )

    return GraphTables(
        entities=entity_names,
        relations=relations_core,
        passages=docs.select(F.col("doc_id").alias("id"), "text"),
        entity_relation=entity_relation,
        relation_passage=relation_passage,
        entity_passage=entity_passage,
    )


def adjacency_arrays(g: GraphTables) -> GraphTables:
    """The reference's node-side adjacency arrays (rag.py:320-352) as a
    view over the edge tables: ``entities`` gain ``passage_ids`` and
    ``relation_ids``, ``relations`` gain ``passage_ids``, ``passages`` gain
    ``entity_ids`` and ``relation_ids``.  Each array is sorted, and a node
    without edges gets an EMPTY array, not NULL — the reference always
    stores lists (rag.py:347-352).  The edge tables pass through."""

    def with_arrays(nodes: DataFrame, *arrays) -> DataFrame:
        out = nodes
        for name, edges, key, member in arrays:
            out = out.join(
                edges.groupBy(F.col(key).alias("id")).agg(
                    F.sort_array(F.collect_set(member)).alias(name)
                ),
                "id",
                "left",
            )
        return out.select(
            *nodes.columns,
            *(
                F.coalesce(name, F.array().cast("array<string>")).alias(name)
                for name, *_ in arrays
            ),
        )

    return dataclasses.replace(
        g,
        entities=with_arrays(
            g.entities,
            ("passage_ids", g.entity_passage, "entity_id", "passage_id"),
            ("relation_ids", g.entity_relation, "entity_id", "relation_id"),
        ),
        relations=with_arrays(
            g.relations,
            ("passage_ids", g.relation_passage, "relation_id", "passage_id"),
        ),
        passages=with_arrays(
            g.passages,
            ("entity_ids", g.entity_passage, "passage_id", "entity_id"),
            ("relation_ids", g.relation_passage, "passage_id", "relation_id"),
        ),
    )

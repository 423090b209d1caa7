"""k-hop subgraph expansion as iterative DataFrame joins.

Replicates SubGraph.expand (/root/reference/src/vector_graph_rag/graph/
knowledge_graph.py:258-358) exactly:

- step 0: relations adjacent to the SEED entities are merged into the
  relation set (knowledge_graph.py:281-301);
- each degree d ≥ 1:
    (a) entities referenced by the current relation set are added
        (knowledge_graph.py:309-320);
    (b) only the NEW entities of step (a) spawn next-hop relations
        (knowledge_graph.py:322-333) — this "new entities only" rule is the
        subtle part and is preserved via a left_anti join;
- finally every passage_id reachable from the relation set is collected
  (knowledge_graph.py:349-356).

Scale design: the frontier (new entities per hop) is small relative to the
edge tables, so each hop is a broadcast LEFT SEMI join against
`entity_relation` — the edge table is never shuffled.  Set-dedup is
deferred: relation accumulations stay as lazy unions and are deduped once
per hop (when they become the next broadcast frontier) and once at the end,
instead of after every union — for degree 1 that is 3 shuffles total
(frontier dedup, hop-entity dedup, final relation dedup) instead of 5.
Entity sets need no union-dedup at all: each hop's new entities are
anti-joined against the accumulated set, so the union is already disjoint.
Each hop optionally localCheckpoints to cut lineage growth (SURVEY §7 risk:
iterative plans).  The loop itself is driver-side control flow over a FIXED
small degree (default 1, config.py:97-99) — no data-dependent iteration
count.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_graph_rag_spark.graph.builder import GraphTables


@dataclass
class ExpansionResult:
    entity_ids: DataFrame    # (entity_id)
    relation_ids: DataFrame  # (relation_id)
    passage_ids: DataFrame   # (passage_id)
    history: list = field(default_factory=list)


def _ids(df: DataFrame, col: str) -> DataFrame:
    return df.select(F.col(col)).distinct()


def expand_subgraph(
    graph: GraphTables,
    seed_entities: DataFrame,
    seed_relations: DataFrame | None = None,
    degree: int = 1,
    checkpoint: bool = False,
    collect_history: bool = False,
) -> ExpansionResult:
    """seed_entities(entity_id), seed_relations(relation_id) → expanded sets.

    All inputs/outputs are single-column id DataFrames; callers join back to
    the node tables for payloads (set-oriented — the reference's lazy fetch
    + memo cache, knowledge_graph.py:362-457, is unnecessary here).
    """
    er = graph.entity_relation  # entity_id, relation_id
    rp = graph.relation_passage  # relation_id, passage_id

    entities = _ids(seed_entities, "entity_id")

    # Step 0 (knowledge_graph.py:281-301): seed-entity-adjacent relations.
    # `er` holds distinct (entity, relation) pairs, so a semi join keeps it
    # un-fanned-out; the union with seed relations stays lazy/undeduped —
    # it is deduped when it becomes the hop-1 broadcast frontier below.
    # Without seed relations there is nothing to union.
    step0 = er.join(F.broadcast(entities), "entity_id", "left_semi").select("relation_id")
    seed_rel = None if seed_relations is None else _ids(seed_relations, "relation_id")
    relations_raw = step0 if seed_rel is None else seed_rel.unionByName(step0)

    # History parity (knowledge_graph.py:281-346): the reference records the
    # per-step NEW id lists plus running totals.  The lists are frontier-sized
    # (bounded by eviction / relation_number_threshold), so collecting them is
    # the same driver-side cost the reference pays; id lists are sorted here
    # for determinism (the reference emits Python-set order).
    #
    # ONE action per step: the step's id frames ride a single tagged union
    # collect instead of one collect each (3 at step 0 + 2 per hop before),
    # halving driver round-trips for deep expansions (r11 verdict item 6).
    def _collect_tagged(*tagged) -> dict[str, set]:
        frames = [
            df.select(F.lit(tag).alias("t"), F.col(col).alias("id"))
            for tag, df, col in tagged
        ]
        u = frames[0]
        for f in frames[1:]:
            u = u.unionByName(f)
        out: dict[str, set] = {tag: set() for tag, _, _ in tagged}
        for r in u.collect():
            out[r.t].add(r.id)
        return out

    history = []
    if collect_history:
        step0_sets = _collect_tagged(
            ("ent", entities, "entity_id"),
            ("step0", step0.distinct(), "relation_id"),
            *([] if seed_rel is None else [("seed_rel", seed_rel, "relation_id")]),
        )
        ent_set = step0_sets["ent"]
        rel_set = step0_sets.get("seed_rel", set())
        step0_ids = step0_sets["step0"]
        new0 = sorted(step0_ids - rel_set)
        rel_set |= step0_ids
        history.append(
            {
                "step": 0,
                "operation": "init_merge",
                "description": "Merged relations from initial entities with initial relations",
                "new_relation_ids": new0,
                "total_entities": len(ent_set),
                "total_relations": len(rel_set),
            }
        )
    relations = relations_raw  # deduped form, maintained per hop
    for d in range(1, degree + 1):
        # (a) entities of current relations (both endpoints via entity_relation).
        # Frontiers are bounded (eviction / relation_number_threshold) and
        # orders of magnitude smaller than the edge table — broadcast them
        # so `er` is never shuffled inside the hop loop.
        relations = relations_raw.distinct()
        if checkpoint:
            relations = relations.localCheckpoint(eager=False)
        hop_entities = (
            er.join(F.broadcast(relations), "relation_id", "left_semi")
            .select("entity_id")
            .distinct()
        )
        new_entities = hop_entities.join(F.broadcast(entities), "entity_id", "left_anti")
        # `entities` is distinct and `new_entities` is anti-joined against it,
        # so the union is already a set — no dedup shuffle needed.
        entities = entities.unionByName(new_entities.select("entity_id"))
        # (b) ONLY new entities spawn next-hop relations (knowledge_graph.py:322-327).
        hop_relations = er.join(
            F.broadcast(new_entities), "entity_id", "left_semi"
        ).select("relation_id")
        relations_raw = relations.unionByName(hop_relations)
        if checkpoint:
            entities = entities.localCheckpoint(eager=False)
        if collect_history:
            hop_sets = _collect_tagged(
                ("new_ent", new_entities, "entity_id"),
                ("hop_rel", hop_relations.distinct(), "relation_id"),
            )
            new_ent_ids = sorted(hop_sets["new_ent"])
            new_rel_ids = sorted(hop_sets["hop_rel"] - rel_set)
            ent_set.update(new_ent_ids)
            rel_set.update(new_rel_ids)
            history.append(
                {
                    "step": d,
                    "operation": f"expand_degree_{d}",
                    "description": f"Relations -> entities -> relations (hop {d})",
                    "new_entity_ids": new_ent_ids,
                    "new_relation_ids": new_rel_ids,
                    "total_entities": len(ent_set),
                    "total_relations": len(rel_set),
                }
            )

    relations = relations_raw.distinct()
    # Passages reachable from the final relation set (knowledge_graph.py:349-356).
    passages = (
        rp.join(F.broadcast(relations), "relation_id", "left_semi")
        .select("passage_id")
        .distinct()
    )

    return ExpansionResult(
        entity_ids=entities,
        relation_ids=relations,
        passage_ids=passages,
        history=history,
    )

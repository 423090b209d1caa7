"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship Graph-RAG retrieval pipeline at sf0.001 —
  mock-NER seeds → knowledge-graph build → degree-1 subgraph expansion →
  relation→passage fan-out → final top-k passages (the reference's
  `VectorGraphRAG.retrieve` dataflow, rag.py:587-647, re-expressed as one
  DataFrame DAG).
- ``queries()``: every declared operator from SURVEY.md §2 + north-star
  extensions (registry: vector_graph_rag_spark/queries/).
- ``oracle_sql()``: the DuckDB twin for each query.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: graph-RAG retrieve (build → expand → fan-out → top-3).

    Ranking is the deterministic supporting-relation count (stand-in for
    the LLM rerank, reranker.py:95-296); final_top_k=3 (config.py:104-106).
    """
    from vector_graph_rag_spark.graph.builder import build_graph, synthetic_triplet_docs
    from vector_graph_rag_spark.graph.retrieve import retrieve_passages
    from vector_graph_rag_spark.queries.graphrag import _seed_entities
    from vector_graph_rag_spark.sources.tables import load_table

    docs = synthetic_triplet_docs(load_table(spark, SF0001, "documents"))
    graph = build_graph(docs)
    return retrieve_passages(graph, _seed_entities(spark), degree=1, final_top_k=3)


# The driver oracle-checks only the alphabetically-first 50 keys of
# ``queries()``.  With more declared queries than window slots, a plain sort
# would leave a fixed set (in rounds 1-3: the reference's core traversal
# ``subgraph_expand_d1/d2``, ``naive_rag_topk``, ``recall_at_k``, every
# ``stream_*``) without a driver CORRECTNESS row forever.  Per round-3 verdict
# item 1 the driver-facing registry re-keys a priority set with an ``a_``
# sort prefix so it lands inside the window; internal names (registry, tests,
# bench) are unchanged — only the exported key carries the prefix.
#
# The priority set is SELF-MAINTAINING: it is derived from the committed
# ``CORRECTNESS_r*.json`` history — queries that have never had a green driver
# row are always windowed, and the remaining slots go to the queries whose
# last green row is oldest.  Each round therefore automatically rotates
# verification onto the least-recently-checked queries, and the union of any
# two consecutive rounds covers the full registry.  With no readable history
# every query is never-green, so the window is the first 50 names by sort
# order.  See COVERAGE.md §"driver window".
_WINDOW_SIZE = 50


def _green_history(repo_dir: str) -> dict[str, int]:
    """name → latest round with a green driver row (rows+schema+hash match,
    or the sanctioned ``no_oracle`` rows-only check)."""
    import glob
    import json
    import re

    hist: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo_dir, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for key, row in data.items():
            if not isinstance(row, dict):
                continue
            base = key[2:] if key.startswith("a_") else key
            green = (
                bool(row.get("rows_match"))
                and bool(row.get("schema_match"))
                and bool(row.get("hash_match"))
            ) or row.get("err") == "no_oracle"
            if green:
                hist[base] = max(hist.get(base, 0), rnd)
    return hist


def _select_window(names, history: dict[str, int]) -> frozenset:
    """Pick exactly min(_WINDOW_SIZE, |names|) queries to prefix into the
    driver window: never-green first (name-sorted), then stalest green
    (by last green round, then name).  Pure + deterministic."""
    names = sorted(names)
    never = [n for n in names if n not in history]
    stale = sorted((n for n in names if n in history), key=lambda n: (history[n], n))
    return frozenset((never + stale)[:_WINDOW_SIZE])


def _window_priority() -> frozenset:
    from vector_graph_rag_spark.queries import load_all

    hist = _green_history(os.path.dirname(os.path.abspath(__file__)))
    return _select_window(load_all(), hist)


def _driver_keys() -> dict[str, str]:
    priority = _window_priority()
    from vector_graph_rag_spark.queries import load_all

    return {name: (f"a_{name}" if name in priority else name) for name in load_all()}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from vector_graph_rag_spark.queries import load_all

    keys = _driver_keys()
    items = {keys[name]: q.fn for name, q in load_all().items()}
    return dict(sorted(items.items()))


def oracle_sql() -> dict[str, str]:
    from vector_graph_rag_spark.queries import load_all

    keys = _driver_keys()
    items = {
        keys[name]: q.oracle
        for name, q in load_all().items()
        if q.oracle is not None
    }
    return dict(sorted(items.items()))

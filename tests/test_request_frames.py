"""Frames built from request data stay on the JVM.

A frame backed by a Python RDD sends every partition through a Python
worker on each action over it (~0.34 s against ~0.02 s for a JVM-only
frame), and an ``/add_documents`` re-runs such lineage in most of its
jobs.  Each builder on the request path is pinned here by its RDD
lineage: no ``PythonRDD`` may appear under it.
"""

from __future__ import annotations

from vector_graph_rag_spark.api.app import _docs_dataframe, _queries_dataframe
from vector_graph_rag_spark.functions.literals import arrow_rows, inline_rows
from vector_graph_rag_spark.functions.text import entity_id
from vector_graph_rag_spark.graph.builder import build_graph
from vector_graph_rag_spark.graph.expand import expand_subgraph
from vector_graph_rag_spark.graph.retrieve import seed_frontier_from_names

ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"

DOCS = [
    {"doc_id": "d1", "text": "alpha owns beta beta feeds gamma gamma likes delta", "source": "web"},
    {
        "doc_id": "d2",
        "text": "pre-extracted",
        "triplets": [{"subject": "alpha", "predicate": "knows", "object": "omega"}],
    },
]


def _python_rdd(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def test_detector_sees_a_python_rdd(spark):
    assert _python_rdd(spark.createDataFrame([("a",)], "x string"))


def test_docs_dataframe_is_jvm_only_in_both_branches(spark):
    for docs in ([DOCS[0]], [DOCS[1]], DOCS):
        df = _docs_dataframe(spark, docs)
        assert not _python_rdd(df)
        assert df.rdd.getNumPartitions() == 1
    rows = {r["doc_id"]: r for r in _docs_dataframe(spark, DOCS).collect()}
    assert [tuple(t) for t in rows["d2"]["triplets"]] == [("alpha", "knows", "omega")]
    assert tuple(rows["d1"]["triplets"][0]) == ("alpha", "owns", "beta")


def test_search_query_frame_is_jvm_only(spark):
    df = _queries_dataframe(spark, ["it's a \\ query", "second"])
    assert not _python_rdd(df)
    assert [tuple(r) for r in df.collect()] == [(0, "it's a \\ query"), (1, "second")]


# Spark's SQL parser replaces ${env:X}, ${system:X} and ${<conf key>} in
# SQL text before it parses (spark.sql.variable.substitute, on by default).
SUBSTITUTABLE = [
    "${spark.app.name}",
    "${env:HOME}",
    "${system:user.dir}",
    "x/${env:PATH}.zzz",
    "$x and ${",
    "it's a \\ query",
]


def test_request_strings_round_trip_byte_identical(spark):
    """No request string is read as more than text: not by the Arrow
    request frames, and not by ``inline_rows``, which still carries seed
    names into SQL text."""
    q = _queries_dataframe(spark, SUBSTITUTABLE)
    assert [r["qtext"] for r in q.orderBy("query_idx").collect()] == SUBSTITUTABLE
    lit = inline_rows(spark, [(i, s) for i, s in enumerate(SUBSTITUTABLE)], "i int, s string")
    assert [r["s"] for r in lit.orderBy("i").collect()] == SUBSTITUTABLE
    got = {r[0] for r in seed_frontier_from_names(spark, SUBSTITUTABLE).collect()}
    want = {
        r[0]
        for r in spark.createDataFrame([(s,) for s in SUBSTITUTABLE], "name string")
        .select(entity_id("name"))
        .collect()
    }
    assert got == want


def test_expand_without_seed_relations_is_jvm_only(spark):
    docs = _docs_dataframe(spark, DOCS)
    g = build_graph(docs)
    exp = expand_subgraph(g, seed_frontier_from_names(spark, ["alpha"]), degree=1)
    for df in (exp.relation_ids, exp.passage_ids, exp.entity_ids):
        assert not _python_rdd(df)
    assert sorted(r[0] for r in exp.passage_ids.collect()) == ["d1", "d2"]


def test_empty_inline_rows_is_jvm_only_and_typed(spark):
    df = inline_rows(spark, [], "doc_id long, term string, w long")
    assert not _python_rdd(df)
    assert df.schema.simpleString() == "struct<doc_id:bigint,term:string,w:bigint>"
    assert df.collect() == []


def test_arrow_rows_stays_jvm_only_with_arrow_conf_off(spark):
    """``createDataFrame(pandas)`` silently falls back to a Python RDD with
    the Arrow conf off; ``arrow_rows`` ships a pyarrow table, which has no
    such fallback."""
    import pandas as pd

    schema = "doc_id string, n long"
    prior = spark.conf.get(ARROW_CONF)
    spark.conf.set(ARROW_CONF, "false")
    try:
        assert _python_rdd(spark.createDataFrame(pd.DataFrame({"doc_id": ["a"], "n": [1]}), schema))
        df = arrow_rows(spark, [("a", 1), ("b", None)], schema)
        assert not _python_rdd(df)
        assert [tuple(r) for r in df.collect()] == [("a", 1), ("b", None)]
    finally:
        spark.conf.set(ARROW_CONF, prior)

"""Graph catalog contracts: declared table schemas and the crash-safe swap.

- ``GRAPH_SCHEMAS`` must equal what parquet inference finds on disk for
  every table a writer produces (a fresh build, an upsert, a cascade
  delete, and the cached testdata graphs), and ``write_graph`` refuses a
  table that differs.
- ``replace_graph`` interrupted at any of its four steps leaves a graph
  that reads back as the before-state or the after-state, and the next
  catalog call cleans up what the crash left.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from vector_graph_rag_spark.graph.builder import build_graph, synthetic_triplet_docs
from vector_graph_rag_spark.graph.crud import delete_relations, upsert_passages
from vector_graph_rag_spark.sources import catalog as catalog_mod
from vector_graph_rag_spark.sources.catalog import (
    GRAPH_SCHEMAS,
    TABLE_NAMES,
    GraphCatalog,
    GraphFormatError,
    GraphNameError,
)

DOCS_SCHEMA = "doc_id string, text string, source string"
BEFORE = [
    ("p1", "alpha owns beta beta feeds gamma gamma likes delta", "web"),
    ("p2", "beta rules epsilon epsilon sees zeta zeta meets eta", "web"),
]
AFTER = [
    ("p2", "omega rules sigma sigma sees tau tau meets eta", "api"),
    ("p3", "kappa owns lambda lambda feeds mu mu likes nu", "api"),
]


def _docs(spark, rows):
    return synthetic_triplet_docs(spark.createDataFrame(rows, DOCS_SCHEMA))


def _state(spark, cat: GraphCatalog, name: str):
    g = cat.read_graph(spark, name)
    return (
        sorted(tuple(r) for r in g.passages.select("id", "text").collect()),
        sorted(tuple(r) for r in g.relation_passage.collect()),
    )


def _assert_declared_on_disk(spark, gdir: str):
    for t in TABLE_NAMES:
        inferred = spark.read.parquet(os.path.join(gdir, f"{t}.parquet")).schema
        declared = StructType.fromDDL(GRAPH_SCHEMAS[t])
        assert inferred.simpleString() == declared.simpleString(), t


def test_declared_schemas_equal_inferred_for_every_writer(spark, tmp_path):
    cat = GraphCatalog(str(tmp_path))
    cat.write_graph("built", build_graph(_docs(spark, BEFORE)))
    _assert_declared_on_disk(spark, cat._graph_dir("built"))

    upserted = upsert_passages(cat.read_graph(spark, "built"), _docs(spark, AFTER))
    cat.replace_graph("built", upserted)
    _assert_declared_on_disk(spark, cat._graph_dir("built"))

    g = cat.read_graph(spark, "built")
    doomed = [g.relations.orderBy("id").first()["id"]]
    cat.write_graph("cascaded", delete_relations(g, doomed))
    _assert_declared_on_disk(spark, cat._graph_dir("cascaded"))


def test_declared_tables_hold_no_arrays():
    # adjacency is stored once, as edge tables; arrays are a read-side view
    for t, ddl in GRAPH_SCHEMAS.items():
        assert "array" not in StructType.fromDDL(ddl).simpleString(), t


def test_cached_testdata_graph_matches_declared_schemas(spark):
    from tests.conftest import SF_SMOKE
    from vector_graph_rag_spark.queries.graphrag import _graph

    g = _graph(spark, SF_SMOKE)
    path = g.passages.inputFiles()[0]
    _assert_declared_on_disk(spark, os.path.dirname(os.path.dirname(path)))


def test_write_graph_refuses_undeclared_columns(spark, tmp_path):
    cat = GraphCatalog(str(tmp_path))
    g = build_graph(_docs(spark, BEFORE))
    swapped = g.relation_passage.select("passage_id", "relation_id")
    retyped = g.entity_relation.withColumn("entity_id", F.length("entity_id"))
    for bad in (
        dataclasses.replace(g, relation_passage=swapped),
        dataclasses.replace(g, entity_relation=retyped),
    ):
        with pytest.raises(ValueError, match="declared"):
            cat.write_graph("bad", bad)
    assert not os.path.exists(cat._graph_dir("bad"))


class _Crash(RuntimeError):
    pass


# Expected read-back per interrupted step of replace_graph:
# 1 write staging, 2 rename live aside, 3 rename staging in, 4 delete aside.
STEPS = {1: "before", 2: "before", 3: "before", 4: "after"}


@pytest.mark.parametrize("step", sorted(STEPS))
def test_replace_graph_crash_at_each_step_reads_before_or_after(
    spark, tmp_path, monkeypatch, step
):
    root = str(tmp_path)
    cat = GraphCatalog(root)
    cat.replace_graph("g", build_graph(_docs(spark, BEFORE)))
    before = _state(spark, cat, "g")
    new_tables = upsert_passages(cat.read_graph(spark, "g"), _docs(spark, AFTER))

    if step == 1:
        # a job failure after some tables reached the staging copy
        failing = new_tables.relation_passage.withColumn(
            "passage_id",
            F.when(F.col("passage_id") == "p3", F.raise_error(F.lit("crash")))
            .otherwise(F.col("passage_id")),
        )
        new_tables = dataclasses.replace(new_tables, relation_passage=failing)
    else:
        # steps 2-4 are the catalog's own file operations under ``root``,
        # in order: rename, rename, rmtree
        ops = []
        real = {"rename": os.rename, "rmtree": shutil.rmtree}

        def hook(kind):
            def op(path, *a, **k):
                if str(path).startswith(root):
                    ops.append(kind)
                    if len(ops) == step - 1:
                        raise _Crash(f"crash at step {step}")
                return real[kind](path, *a, **k)

            return op

        monkeypatch.setattr(catalog_mod.os, "rename", hook("rename"))
        monkeypatch.setattr(catalog_mod.shutil, "rmtree", hook("rmtree"))

    with pytest.raises(Exception):
        cat.replace_graph("g", new_tables)
    monkeypatch.undo()

    fresh = GraphCatalog(root)
    assert fresh.list_graphs() == [{"name": "g", "has_all_tables": True}]
    got = _state(spark, fresh, "g")
    if STEPS[step] == "before":
        assert got == before
    else:
        assert got != before and {p for p, _ in got[0]} == {"p1", "p2", "p3"}
    assert not os.path.exists(os.path.join(root, "g" + catalog_mod.ASIDE))

    # the next swap succeeds over whatever the crash left
    fresh.replace_graph(
        "g", upsert_passages(fresh.read_graph(spark, "g"), _docs(spark, AFTER))
    )
    assert {p for p, _ in _state(spark, fresh, "g")[0]} == {"p1", "p2", "p3"}
    assert sorted(os.listdir(root)) == ["g"]


def test_reserved_graph_names_are_refused_and_never_touched(spark, tmp_path):
    """The catalog gives the staging and aside suffixes a meaning, so a
    graph of such a name would be deleted or renamed by the next swap or
    listing of its base graph; a path separator would leave the root."""
    cat = GraphCatalog(str(tmp_path / "root"))
    cat.replace_graph("g", build_graph(_docs(spark, BEFORE)))
    before = _state(spark, cat, "g")
    tables = cat.read_graph(spark, "g")
    for bad in ("g" + catalog_mod.ASIDE, "g" + catalog_mod.STAGING, "h" + catalog_mod.ASIDE,
                "../g", "a/b", "..", ".", "", None):
        for call in (
            lambda: cat.replace_graph(bad, tables),
            lambda: cat.write_graph(bad, tables),
            lambda: cat.exists(bad),
            lambda: cat.delete_graph(bad),
            lambda: cat.read_graph(spark, bad),
        ):
            with pytest.raises(GraphNameError):
                call()
    assert sorted(os.listdir(cat.root)) == ["g"]
    assert cat.list_graphs() == [{"name": "g", "has_all_tables": True}]
    assert _state(spark, cat, "g") == before


def test_read_graph_names_the_tables_a_graph_lacks(spark, tmp_path):
    """A graph written before ``entity_passage`` was stored has five
    tables.  The catalog still lists it, but reading it raises an error
    that names the missing table instead of Spark's PATH_NOT_FOUND."""
    cat = GraphCatalog(str(tmp_path / "root"))
    cat.replace_graph("old", build_graph(_docs(spark, BEFORE)))
    shutil.rmtree(os.path.join(cat.root, "old", "entity_passage.parquet"))
    assert cat.exists("old")
    assert cat.list_graphs() == [{"name": "old", "has_all_tables": False}]
    with pytest.raises(GraphFormatError, match=r"\['entity_passage'\].*delete and re-add"):
        cat.read_graph(spark, "old")


def test_reader_recovery_waits_for_a_swap_in_flight(spark, tmp_path, monkeypatch):
    """A reader that finds the aside copy while a swap is between its two
    renames must wait, not rename that copy back under the writer."""
    cat = GraphCatalog(str(tmp_path))
    cat.replace_graph("g", build_graph(_docs(spark, BEFORE)))
    new_tables = upsert_passages(cat.read_graph(spark, "g"), _docs(spark, AFTER))
    real_rename = os.rename
    moved_aside = threading.Event()
    seen = []

    def rename(src, dst, *a, **k):
        real_rename(src, dst, *a, **k)
        if str(dst).endswith(catalog_mod.ASIDE):
            moved_aside.set()
            time.sleep(0.5)  # hold the window between the renames open

    def reader():
        # another catalog object over the same root: the lock is per process
        if moved_aside.wait(60):
            seen.append(GraphCatalog(cat.root).exists("g"))

    monkeypatch.setattr(catalog_mod.os, "rename", rename)
    t = threading.Thread(target=reader)
    t.start()
    cat.replace_graph("g", new_tables)
    t.join(timeout=60)
    monkeypatch.undo()
    assert not t.is_alive() and seen == [True]
    assert {p for p, _ in _state(spark, cat, "g")[0]} == {"p1", "p2", "p3"}


def test_compact_graph_goes_through_the_swap(spark, tmp_path, monkeypatch):
    cat = GraphCatalog(str(tmp_path))
    cat.write_graph("g", build_graph(_docs(spark, BEFORE)), partitions=3)
    before = _state(spark, cat, "g")
    calls = []
    real = GraphCatalog.replace_graph
    monkeypatch.setattr(
        GraphCatalog, "replace_graph",
        lambda self, *a, **k: calls.append(a[0]) or real(self, *a, **k),
    )
    files = cat.compact_graph(spark, "g", target_files=1)
    assert calls == ["g"]
    assert all(n == 1 for n in files.values()), files
    assert _state(spark, cat, "g") == before
    assert sorted(os.listdir(str(tmp_path))) == ["g"]

"""Graph catalog: one directory per graph, six parquet tables each.

Mirrors the reference's collection_prefix multi-tenancy
(/root/reference/src/vector_graph_rag/storage/milvus.py:66-74): a "graph"
named `g` is `{root}/g/{entities,relations,passages,entity_relation,
relation_passage,entity_passage}.parquet`.  Catalog ops map 1:1:

- list_graphs  ← MilvusStore.list_graphs suffix-matching (milvus.py:847-924)
- delete_graph ← drop of the 3 collections (milvus.py:926-978)
- write_graph  ← drop_collections+create_collections+insert — the
  reference's add_documents is full-rebuild overwrite (rag.py:354-356),
  which is exactly `mode("overwrite")`.

Schemas.  The six tables have fixed columns, declared once in
``GRAPH_SCHEMAS``; no column is an array (adjacency lives in the edge
tables, see ``graph/builder``).  ``read_graph`` passes them to the
reader, so a read runs no schema-inference job (one per table
otherwise), and ``write_graph`` refuses a table whose names, order or
types differ, so the declaration cannot drift from what is on disk.

Swaps.  ``replace_graph`` is the one way a live graph changes: the new
graph is written to ``<name>__staging``, the live directory is renamed
to ``<name>__aside``, the staging copy is renamed in, and only then is
the aside copy deleted.  A crash leaves the before-state or the
after-state: the next catalog call on the graph renames a lone aside
copy back (died between the renames) or deletes one beside a live graph
(died before the delete).  ``list_graphs`` never lists the staging or
aside directories, and a graph name may not end in either suffix or
hold a path separator (``GraphNameError``), so no user graph can be
taken for one.  One process-wide lock orders swaps against recovery,
whichever ``GraphCatalog`` object each goes through.

At 100 TB each table write is partition-parallel parquet; `entities` and
`relations` are written repartitioned by id so later point-lookup joins
co-locate (and downstream readers can bucket on id).
"""

from __future__ import annotations

import functools
import os
import shutil
import threading
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from vector_graph_rag_spark.graph.builder import GraphTables

# Column order is the order ``graph/builder.build_graph`` emits and every
# writer keeps (``graph/crud`` preserves its inputs' order).
GRAPH_SCHEMAS = {
    "entities": "id string, name string",
    "relations": (
        "id string, text string, subject string, predicate string, object string, "
        "src_entity_id string, dst_entity_id string"
    ),
    "passages": "id string, text string",
    "entity_relation": "entity_id string, relation_id string",
    "relation_passage": "relation_id string, passage_id string",
    "entity_passage": "entity_id string, passage_id string",
}
TABLE_NAMES = list(GRAPH_SCHEMAS)
# the node tables whose row counts ``graph_stats`` reports
COUNTED_TABLES = ("entities", "relations", "passages")

# repartition key per table when ``write_graph`` is given ``partitions``
PARTITION_KEYS = {
    "entities": "id",
    "relations": "id",
    "passages": "id",
    "entity_relation": "entity_id",
    "relation_passage": "relation_id",
    "entity_passage": "entity_id",
}

STAGING = "__staging"
ASIDE = "__aside"

# Serializes swaps, and recovery against a swap in flight: without it a
# reader's recovery could rename a running swap's aside copy back.
_SWAP_LOCK = threading.RLock()


class GraphNameError(ValueError):
    """A graph name the catalog cannot store (module notes)."""


class GraphFormatError(RuntimeError):
    """A graph directory that lacks some of the six tables, e.g. one written
    before ``entity_passage`` was stored.  There is no migration path: the
    graph must be deleted and re-added."""


def _missing_tables(d: str) -> list[str]:
    return [t for t in TABLE_NAMES if not os.path.exists(os.path.join(d, f"{t}.parquet"))]


def _is_graph_name(name) -> bool:
    return (
        isinstance(name, str)
        and name not in ("", ".", "..")
        and "/" not in name
        and not (os.altsep and os.altsep in name)
        and "\0" not in name
        and not name.endswith((STAGING, ASIDE))
    )


def _check_name(name) -> None:
    if not _is_graph_name(name):
        raise GraphNameError(
            f"invalid graph name {name!r}: it may not be empty, '.' or '..', "
            f"hold a path separator, or end in {STAGING!r} or {ASIDE!r}"
        )


@dataclass
class GraphCatalog:
    root: str

    def _graph_dir(self, name: str) -> str:
        _check_name(name)
        return os.path.join(self.root, name)

    def _recover(self, name: str) -> None:
        """Finish or undo a swap that a crash interrupted (module notes)."""
        live = self._graph_dir(name)
        aside = live + ASIDE
        if not os.path.isdir(aside):
            return
        with _SWAP_LOCK:
            if not os.path.isdir(aside):
                return
            if os.path.isdir(live):
                shutil.rmtree(aside)
            else:
                os.rename(aside, live)

    def exists(self, name: str) -> bool:
        """True if graph ``name`` is present, after recovering a swap a
        crash interrupted."""
        self._recover(name)
        return os.path.isdir(self._graph_dir(name))

    def list_graphs(self) -> list[dict]:
        """[{name, has_all_tables}] sorted by name (milvus.py:847-924)."""
        if not os.path.isdir(self.root):
            return []
        for entry in os.listdir(self.root):
            if entry.endswith(ASIDE) and _is_graph_name(entry[: -len(ASIDE)]):
                self._recover(entry[: -len(ASIDE)])
        out = []
        for name in sorted(os.listdir(self.root)):
            d = os.path.join(self.root, name)
            if not os.path.isdir(d) or name.endswith((STAGING, ASIDE)):
                continue
            out.append({"name": name, "has_all_tables": not _missing_tables(d)})
        return out

    def delete_graph(self, name: str) -> bool:
        """Drop the graph's directory (milvus.py:926-978). True if it existed."""
        if not self.exists(name):
            return False
        shutil.rmtree(self._graph_dir(name))
        return True

    def write_graph(
        self, name: str, tables: GraphTables, partitions: int | None = None
    ) -> dict[str, int]:
        """Overwrite-write all six tables in place (add_documents
        semantics, rag.py:354-356).  With ``partitions``, each table is
        repartitioned by its ``PARTITION_KEYS`` column.  Raises
        ``ValueError`` before writing anything if a table's columns differ
        from ``GRAPH_SCHEMAS``, and ``GraphNameError`` for a name the
        catalog cannot store.  Returns the written row counts of
        ``COUNTED_TABLES``, the figures ``graph_stats`` reads back."""
        return self._write_tables(self._graph_dir(name), tables, partitions)

    def _write_tables(
        self, d: str, tables: GraphTables, partitions: int | None
    ) -> dict[str, int]:
        """Write the six tables under ``d``.  The node tables are counted
        by an ``Observation`` on their own write, so the counts cost no
        extra job and no re-read."""
        for t in TABLE_NAMES:
            got = getattr(tables, t).schema.simpleString()
            want = StructType.fromDDL(GRAPH_SCHEMAS[t]).simpleString()
            if got != want:
                raise ValueError(f"write_graph: table {t} is {got}, declared {want}")
        os.makedirs(d, exist_ok=True)
        observed = {}
        for t in TABLE_NAMES:
            df = getattr(tables, t)
            if t in COUNTED_TABLES:
                observed[t] = Observation()
                df = df.observe(observed[t], F.count(F.lit(1)).alias("rows"))
            if partitions:
                df = df.repartition(partitions, PARTITION_KEYS[t])
            df.write.mode("overwrite").parquet(os.path.join(d, f"{t}.parquet"))
        return {t: obs.get["rows"] for t, obs in observed.items()}

    def replace_graph(
        self, name: str, tables: GraphTables, partitions: int | None = None
    ) -> dict[str, int]:
        """Make ``tables`` the graph ``name`` with a crash-safe swap (module
        notes).  ``tables`` may be a lazy plan over the live graph: it is
        fully written before the live directory moves.  Returns the new
        graph's ``COUNTED_TABLES`` row counts, as ``write_graph`` does."""
        live = self._graph_dir(name)
        staging, aside = live + STAGING, live + ASIDE
        with _SWAP_LOCK:
            self._recover(name)
            if os.path.isdir(staging):
                shutil.rmtree(staging)
            counts = self._write_tables(staging, tables, partitions)
            if os.path.isdir(live):
                os.rename(live, aside)
            os.rename(staging, live)
            if os.path.isdir(aside):
                shutil.rmtree(aside)
        return counts

    def compact_graph(
        self, spark: SparkSession, name: str, target_files: int = 1
    ) -> dict[str, int]:
        """Rewrite each table at ``target_files`` files per table — the
        small-files maintenance job.

        Incremental CRUD (upsert_passages, cascade deletes) rewrites tables
        at task parallelism, so a long-lived graph accumulates many small
        parquet files; at 100 TB scan cost is dominated by file-open and
        footer reads, so periodic compaction (here `coalesce`, on a cluster
        the same job with a size-based target) restores scan efficiency.
        The rewrite goes through ``replace_graph``, so readers never see a
        half-compacted graph.  Returns files-per-table after compaction.
        """
        g = self.read_graph(spark, name)
        self.replace_graph(
            name,
            GraphTables(**{t: getattr(g, t).coalesce(target_files) for t in TABLE_NAMES}),
        )
        d = self._graph_dir(name)
        return {
            t: sum(
                1
                for f in os.listdir(os.path.join(d, f"{t}.parquet"))
                if f.startswith("part-") and not f.endswith(".crc")
            )
            for t in TABLE_NAMES
        }

    def read_graph(self, spark: SparkSession, name: str) -> GraphTables:
        """The six tables of graph ``name``, read with their declared
        schemas.  Raises ``GraphFormatError`` naming the tables that are
        not on disk."""
        self._recover(name)
        d = self._graph_dir(name)
        missing = _missing_tables(d)
        if missing:
            raise GraphFormatError(
                f"graph {name!r} lacks tables {missing}: delete and re-add the graph"
            )
        return GraphTables(
            **{
                t: spark.read.schema(GRAPH_SCHEMAS[t]).parquet(os.path.join(d, f"{t}.parquet"))
                for t in TABLE_NAMES
            }
        )

    def graph_stats(self, spark: SparkSession, name: str) -> dict:
        """Row counts of the node tables (get_collection_stats,
        milvus.py:980-1014), counted in one query."""
        g = self.read_graph(spark, name)
        tagged = functools.reduce(
            DataFrame.unionByName,
            (getattr(g, t).select(F.lit(t).alias("table")) for t in COUNTED_TABLES),
        )
        rows = tagged.groupBy("table").count().collect()
        return {t: 0 for t in COUNTED_TABLES} | {r["table"]: r["count"] for r in rows}

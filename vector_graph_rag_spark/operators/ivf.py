"""IVF index as a partition-pruned parquet layout — the 100 TB ANN path.

The logical IVF (`queries/extended.py::_IVF_SQL`, the oracle of
``ann_ivf_index_search``) recomputes cell assignment per query batch; at
corpus scale the assignment is an INDEX you build once and exploit at read
time.  Here the index is simply
the corpus written ``partitionBy(cell_id)``: probing nprobe cells becomes
a literal ``cell_id IN (...)`` filter that Catalyst turns into PARTITION
PRUNING — the scan reads only the probed cells' files, so query cost is
O(corpus/nlist · nprobe), not O(corpus).  (This mirrors Milvus' IVF
coarse quantizer, milvus.py index params; the reference delegates it to
the vector DB, we express it as storage layout.)

Centroids are assumed small (nlist ≪ corpus) — they broadcast for
assignment and collect to the driver for probe-cell selection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.vector import cosine


def collect_centroids(
    centroids: DataFrame,
    centroid_id: str = "centroid_id",
    centroid_vec: str = "cvec",
) -> list:
    """The bounded centroid table (nlist rows — module contract) as
    driver rows, for callers that feed the SAME centroids to several
    ``assign_cells`` invocations (batch-append loops, one per micro-batch
    or nightly shard): collecting once here instead of once per append
    removes a full scan job from every append (measured ~0.2-0.3s per
    append at sf0.1, x3 appends x4 ann_index bench rows)."""
    return sorted(
        centroids.select(centroid_id, centroid_vec).collect(),
        key=lambda r: r[centroid_id],
    )


def assign_cells(
    corpus: DataFrame,
    centroids: DataFrame | list,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "cvec",
) -> DataFrame:
    """corpus + argmax-cosine centroid → corpus with a ``cell_id`` column.

    ROW-LOCAL argmax against the (bounded, collected — the module
    docstring's contract) centroid table as one JVM-parsed literal: the
    per-vector score array is computed once, let-bound, and its first
    maximum picks the lowest centroid id — the same order the previous
    ``crossJoin + row_number`` formulation produced, WITHOUT shuffling a
    corpus×nlist frame through a window (measured: the whole index build's
    shuffle was this window; assignment itself now shuffles nothing —
    the index WRITERS add back one salted repartition(cell_id) of the
    assigned rows to bound files-per-cell, a corpus-sized but
    nlist-factor-free shuffle; see write_ivf_index).  Sort order (incl.
    NaN-greatest and all-null → lowest id) matches Spark's column ordering,
    so results are row-identical."""
    rows = (
        sorted(centroids, key=lambda r: r[centroid_id])
        if isinstance(centroids, list)
        else collect_centroids(centroids, centroid_id, centroid_vec)
    )
    if not rows:
        return corpus.limit(0).withColumn("cell_id", F.lit(None).cast("bigint"))
    from vector_graph_rag_spark.functions.literals import num_array_lit

    cmat = num_array_lit(
        [[float(x) for x in r[centroid_vec]] for r in rows],
        "array<array<double>>",
    )
    ids = num_array_lit([int(r[centroid_id]) for r in rows], "array<bigint>")
    # NaN scores (zero-norm vectors: 0.0/0.0) map to +Inf for the argmax
    # only: the old window sorted NaN greatest (Spark ordering), but
    # array_position's EQUALITY never matches NaN — +Inf keeps the same
    # "NaN wins, ties to the lowest id" outcome without the 0-index crash.
    # Known conflation (ADVICE r9): a NaN score now TIES a genuine +Inf
    # score (lowest id wins) instead of beating it as the old window (and
    # DuckDB, where NaN sorts above Infinity) would.  Unreachable with
    # cosine's bounded output; a non-cosine scorer plugged in here must
    # break the tie explicitly if NaN-beats-Inf semantics matter.
    scores = F.transform(
        cmat,
        lambda c: F.transform(
            F.array(F.round(cosine(F.col(corpus_vec), c), 6)),
            lambda x: F.when(F.isnan(x), F.lit(float("inf"))).otherwise(x),
        )[0],
    )
    picked = F.transform(
        F.array(scores),
        lambda s: F.when(
            F.array_max(s).isNull(), F.element_at(ids, 1)
        ).otherwise(
            F.element_at(ids, F.array_position(s, F.array_max(s)).cast("int"))
        ),
    )[0]
    return corpus.select(*corpus.columns, picked.alias("cell_id"))


def write_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> None:
    """Materialize the corpus partitioned by cell id (the IVF index).

    Salted repartition before partitionBy (same rationale as
    pq.write_ivfpq_index): bounds files-per-cell at the salt modulus
    instead of (upstream tasks x cells), keeping probe-time file listing
    O(cells) — a hot cell still splits across 4 writers."""
    assigned = assign_cells(
        corpus, centroids, corpus_id=corpus_id, corpus_vec=corpus_vec
    )
    (
        assigned.repartition(
            F.col("cell_id"), F.pmod(F.hash(corpus_id), F.lit(4))
        )
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(path)
    )


def ivf_search(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "qvec",
) -> DataFrame:
    """Top-k over ONLY the nprobe nearest cells per query.

    Probe cells are chosen by scoring the query batch against the centroid
    table and collected to a literal IN-list, so the index scan carries a
    partition filter (`PartitionFilters: [cell_id IN (...)]`) and never
    touches unprobed cells.
    """
    # A NULL-vector query would still earn nprobe probe rows (row_number
    # orders null cosines) and then surface arbitrary rows with NULL
    # scores — skip it instead, matching ivfpq_search's contract.
    queries = queries.filter(F.col(query_vec).isNotNull())
    w_probe = Window.partitionBy(query_id).orderBy(
        F.desc("__cs"), F.asc("centroid_id")
    )
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("__cs", F.round(cosine(query_vec, "cvec"), 6))
        .withColumn("__rk", F.row_number().over(w_probe))
        .filter(F.col("__rk") <= nprobe)
        .select(query_id, "centroid_id")
    )
    probe_rows = probes.collect()  # bounded: |queries| × nprobe
    cells = sorted({r["centroid_id"] for r in probe_rows})

    index = spark.read.parquet(index_path).filter(F.col("cell_id").isin(cells))
    from vector_graph_rag_spark.functions.literals import inline_rows

    pairs = inline_rows(
        spark,
        [(r[query_id], r["centroid_id"]) for r in probe_rows],
        f"{query_id} bigint, cell_id bigint",
    )
    w_rank = Window.partitionBy(query_id).orderBy(F.desc("score"), F.asc(corpus_id))
    return (
        index.join(F.broadcast(pairs), "cell_id")
        .join(F.broadcast(queries), query_id)
        .withColumn("score", F.round(cosine(corpus_vec, query_vec), 6))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "score", "rank")
    )

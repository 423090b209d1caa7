"""Deterministic sampling / splitting — training-data-pipeline operators.

A 100 TB corpus is never shuffled into splits by `rand()`: reproducibility
across reruns and engines requires content-addressed assignment.  Every
operator here keys off the md5-derived :func:`hash60` (identical in Spark
and DuckDB), so split membership is a pure function of the row — stable
under repartitioning, retries, and incremental appends, and exactly
oracle-checkable.

- ``rebalance_source_mix`` (library; driver-gated through
  ``queries/pipeline.source_temperature_mix``): per-source quotas selected
  by a hash-ordered ``row_number`` window.  This is the distributed replacement
  for reservoir sampling: same "uniform without replacement within group"
  guarantee, but deterministic and single-shuffle (one window over the
  stratum key).
- ``events_distinct_users_2level``: exact distinct count via the two-level
  (partial-distinct → global) aggregation pattern — the shape that scales
  where a naive ``COUNT(DISTINCT)`` funnels all distinct values through
  one reducer.  Byte-identical to the single-level oracle by construction.
  (The approximate path at 100 TB is ``approx_count_distinct`` / HLL
  sketches; it is not oracle-exact across engines so the exact pattern is
  the declared query.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.hashing import hash60
from vector_graph_rag_spark.functions.literals import inline_rows
from vector_graph_rag_spark.queries import register
from vector_graph_rag_spark.sources.tables import load_table

# --- exact distinct via two-level aggregation --------------------------------

_DISTINCT_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


@register(
    "events_distinct_users_2level",
    oracle=_DISTINCT_SQL,
    description="exact COUNT(DISTINCT) via two-level partial-distinct aggregation (the scalable shape)",
)
def events_distinct_users_2level(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # Level 1 dedups (event_type, user_id) with map-side combine; level 2 is
    # a plain count — no single-reducer distinct funnel.
    return (
        e.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --- source-mix rebalancing (domain-weighted corpus composition) ------------


def rebalance_source_mix(d: DataFrame, weights: dict[str, float]) -> DataFrame:
    """Deterministic domain-mix rebalance: downsample each source so the
    surviving corpus matches the requested relative ``weights`` exactly
    (e.g. {"web": 0.4, "code": 0.2, ...} — the data-mixing step of every
    pretraining recipe), keeping the corpus as large as the scarcest source
    allows.

    Per source s: takes n_s = floor(w_s · T) documents, where
    T = min_s floor(count_s / w_s) is the largest total the available
    counts support.  Selection is the hash-ordered exactly-n window:
    stable under repartitioning, task retry, and incremental append —
    never rand().

    Scale: one map-side-combined count per source (broadcast-sized result
    drives the n_s plan on the driver), then one window shuffle partitioned
    by source.  A giant source partition is the same skew the stratified
    sampler already tolerates: rank-k selection short-circuits per
    partition; salt the window key if one source dominates the corpus.

    Returns the surviving rows of ``d`` plus their per-source rank.
    """
    sources = sorted(weights)
    if not sources or any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be a non-empty map of positive numbers")
    total_w = sum(weights.values())
    frac = {s: weights[s] / total_w for s in sources}
    counts = {
        r["source"]: r["n"]
        for r in d.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    missing = [s for s in sources if counts.get(s, 0) == 0]
    if missing:
        raise ValueError(f"no documents for weighted sources: {missing}")
    T = min(int(counts[s] / frac[s]) for s in sources)
    quota = {s: int(frac[s] * T) for s in sources}

    quota_df = F.broadcast(
        inline_rows(
            d.sparkSession, [(s, n) for s, n in quota.items()], "source string, quota long"
        )
    )
    h = hash60(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        d.join(quota_df, "source")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= F.col("quota"))
        .drop("quota")
    )

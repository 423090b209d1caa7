"""Under-parallel scan guard (guide §2/§6).

A small corpus arriving as ONE parquet file scans as one task, so every
row-local map pass riding that scan — tokenize, shingle md5, minhash,
feature hashing, mock embeddings, PQ encode — serializes on a single core
until the first shuffle (measured 6x on the 10x smoke for the vector
index append).  The conditional relayout below repartitions ONLY when
the scan is under-parallel, so a multi-file corpus — every real
deployment, and the 10x/100x smokes — skips the exchange entirely and the
guard is a no-op at scale.

The guard only ever inspects scan-rooted frames: ``df.rdd`` on a frame
with an Exchange in its physical plan would execute the upstream shuffle
(or broadcast) stages at call time under AQE, work the later actions do
not reuse.  Such a frame is returned unchanged without running a job —
its partitioning is the Exchange's, not a file-split count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallel_scan(df: DataFrame) -> DataFrame:
    """Conditionally repartition an under-parallel scan-rooted frame to
    ``defaultParallelism`` so downstream row-local map work spreads over
    the cluster instead of the scan's file-split count.  Frames whose
    physical plan holds an Exchange pass through untouched (planning
    only, no Spark job)."""
    if "Exchange" in df._jdf.queryExecution().executedPlan().toString():
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, par // 2):
        return df.repartition(par)
    return df

"""Incremental frequency tracking — Count-Min registers + guaranteed
heavy-hitter candidates, the frequency member of the mergeable-sketch
suite (HLL distincts / HDR quantiles / Bloom membership live in
``corpus_stats`` and ``operators/bloom``).

A 100 TB pipeline wants per-shard and whole-corpus answers to "how often
does this token / domain / dedup key occur" and "what are the most
frequent values" without ever re-reading the corpus.  Exact global counts
of everything are corpus-sized state; this module keeps BOUNDED state per
shard with the two standard guarantees:

- **Count-Min counters** (Cormode & Muthukrishnan 2005): d=4 hash rows ×
  w=2048 counters per tracked column.  Counters are ADDITIVE, so shard
  merge is a SUM — exactly sharding-invariant, and replay-invariant
  under the ``streaming/shards`` contract (a replayed batch id replaces
  its own shard).  The counter table reproduces
  bit-for-bit in DuckDB (md5-derived universal hashes, the minhash
  parameter family).  ``min`` over the d rows upper-bounds any value's
  true count; the bound exceeds truth by ≤ εN w.h.p. (ε ≈ e/w).
- **Heavy-hitter candidates with the Misra-Gries threshold guarantee**:
  each shard also records every value whose in-shard count exceeds
  ``rows_in_shard / m`` (m=64).  Any value with GLOBAL count > N/m must
  exceed that threshold in at least one shard (pigeonhole), so the union
  of shard candidate sets provably contains every global >N/m heavy
  hitter — no adversarial split can hide one.  Candidate state is ≤ m
  values per shard per column.

``corpus_heavy_hitters`` reports, per candidate, the summed candidate
counts (a LOWER bound — shards where the value missed its threshold
contribute nothing) and the Count-Min estimate (an UPPER bound), so
downstream consumers see honest brackets, not point guesses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.hashing import (
    MERSENNE_P,
    hash60,
    seeded_hash60_from_base,
)
from vector_graph_rag_spark.streaming import shards
# the store's listing IS the shard store's
from vector_graph_rag_spark.streaming.shards import list_batch_ids

CM_DEPTH = 4
CM_WIDTH = 2048
HH_M = 64  # candidate threshold divisor: shard count > rows/m

_FREQ_SCHEMA = (
    "col string, kind string, row long, pos long, value string, cnt long"
)


def _cm_counts(df: DataFrame, col: str) -> DataFrame:
    """(row, pos, cnt) Count-Min counters of one column's occurrences.

    One md5 per value occurrence (the d row positions derive from the
    same reduced base — the minhash one-md5-many-hashes form), one
    map-side-combined aggregation; ≤ d·w output rows."""
    s = F.col(col).cast("string")
    base = (hash60(s) % F.lit(MERSENNE_P)).alias("h")
    hashed = df.filter(s.isNotNull()).select(base)
    rows = None
    for i in range(CM_DEPTH):
        p = hashed.select(
            F.lit(i).alias("row"),
            (seeded_hash60_from_base(F.col("h"), i) % F.lit(CM_WIDTH)).alias(
                "pos"
            ),
        )
        rows = p if rows is None else rows.unionByName(p)
    return rows.groupBy("row", "pos").agg(F.count("*").alias("cnt"))


def write_batch_freq(
    batch_df: DataFrame, state_dir: str, batch_id: int, cols: list[str]
) -> None:
    """One shard per micro-batch, replaced on replay (the shard store's
    contract): the CM counter rows plus the shard's >rows/m candidate
    values.

    Schema: (col, kind, row, pos, value, cnt) — kind='cm' rows carry
    (row, pos, cnt); kind='hh' rows carry (value, cnt)."""
    out = None
    for c in cols:
        s = F.col(c).cast("string")
        cm = _cm_counts(batch_df, c).select(
            F.lit(c).alias("col"),
            F.lit("cm").alias("kind"),
            F.col("row").cast("long").alias("row"),
            F.col("pos").cast("long").alias("pos"),
            F.lit(None).cast("string").alias("value"),
            F.col("cnt").cast("long").alias("cnt"),
        )
        occurrences = batch_df.filter(s.isNotNull()).select(s.alias("value"))
        # the >rows/m threshold rides the write plan as a broadcast 1-row
        # aggregate (r17) — the former per-column driver count() launched
        # a separate scan job per column per shard (guide §5: the driver
        # should do almost no data work)
        tot = occurrences.agg(F.count("*").alias("__n_rows"))
        hh = (
            occurrences.groupBy("value")
            .agg(F.count("*").alias("cnt"))
            .crossJoin(F.broadcast(tot))
            .filter(F.col("cnt") * HH_M > F.col("__n_rows"))
            .select(
                F.lit(c).alias("col"),
                F.lit("hh").alias("kind"),
                F.lit(None).cast("long").alias("row"),
                F.lit(None).cast("long").alias("pos"),
                "value",
                F.col("cnt").cast("long").alias("cnt"),
            )
        )
        part = cm.unionByName(hh)
        out = part if out is None else out.unionByName(part)
    shards.write_batch(
        batch_df.sparkSession,
        batch_id,
        [(state_dir, lambda path: out.write.parquet(path))],
    )


def cm_counters(spark: SparkSession, state_dir: str) -> DataFrame:
    """``(col, row, pos, cnt)`` — the merged Count-Min counter table (the
    SUM over every listed shard)."""
    return (
        shards.read_declared(spark, state_dir, _FREQ_SCHEMA)
        .filter(F.col("kind") == "cm")
        .groupBy("col", "row", "pos")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cm_estimate(spark: SparkSession, state_dir: str, col: str, values: list[str]) -> dict[str, int]:
    """Count-Min upper-bound estimates for specific values from the merged
    counter table (never re-reads the corpus).  Driver-trivial: the merged
    table is ≤ d·w rows per column."""
    merged = {
        (int(r["row"]), int(r["pos"])): int(r["cnt"])
        for r in cm_counters(spark, state_dir)
        .filter(F.col("col") == col)
        .collect()
    }
    import hashlib

    from vector_graph_rag_spark.functions.hashing import _A_PARAMS, _B_PARAMS

    out = {}
    for v in values:
        h = int(hashlib.md5(v.encode()).hexdigest()[:15], 16) % MERSENNE_P
        est = None
        for i in range(CM_DEPTH):
            pos = (_A_PARAMS[i] * h + _B_PARAMS[i]) % MERSENNE_P % CM_WIDTH
            c = merged.get((i, pos), 0)
            est = c if est is None else min(est, c)
        out[v] = int(est or 0)
    return out


def corpus_heavy_hitters(
    spark: SparkSession, state_dir: str, top: int = 20
) -> DataFrame:
    """Merged heavy-hitter report: ``(col, value, cnt_lower, cm_upper)``.

    - candidates = union of every shard's >rows/m values — provably a
      superset of all global >N/m heavy hitters (pigeonhole over shards);
    - ``cnt_lower`` = sum of the candidate's recorded shard counts (a
      lower bound: shards where it missed the threshold contribute 0);
    - ``cm_upper`` = the merged Count-Min estimate (≥ true count).

    Ranked by ``cm_upper`` desc, ties by value; ``top`` per column.  All
    driver-side arithmetic runs over bounded state (≤ m values and d·w
    counters per shard per column)."""
    cand = (
        shards.read_declared(spark, state_dir, _FREQ_SCHEMA)
        .filter(F.col("kind") == "hh")
        .groupBy("col", "value")
        .agg(F.sum("cnt").alias("cnt_lower"))
        .collect()
    )
    by_col: dict[str, list] = {}
    for r in cand:
        by_col.setdefault(r["col"], []).append((r["value"], int(r["cnt_lower"])))
    rows = []
    for c, vals in sorted(by_col.items()):
        ests = cm_estimate(spark, state_dir, c, [v for v, _ in vals])
        ranked = sorted(
            ((v, lo, ests[v]) for v, lo in vals),
            key=lambda t: (-t[2], t[0]),
        )[:top]
        rows.extend((c, v, lo, up) for v, lo, up in ranked)
    from vector_graph_rag_spark.functions.literals import inline_rows

    return inline_rows(
        spark, rows, "col string, value string, cnt_lower long, cm_upper long"
    )

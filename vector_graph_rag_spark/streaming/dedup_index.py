"""Persistent incremental LSH dedup index — the nightly near-dup path
that never re-signatures the corpus.

``queries/dedup.dedup_incremental`` demonstrates the batch-vs-corpus
SHAPE (one nightly batch banded against the whole corpus); at 100 TB the
missing piece is persistence: the corpus side's shingling + minhashing
must be paid ONCE, not per night.  This module stores the signature /
band state as a ``streaming/shards`` batch-shard tree (layout, replay
delete-first and the Hadoop-FS listing live there):

    state_dir/batch=<id>/sigs/    (doc_id, sig array<long>[16])
    state_dir/bands/batch=<id>/   (doc_id, band, band_key)

Both are plain parquet shards, read by explicit batch id and deleted
before a replayed batch id is rewritten.

Nightly flow (``tools``-level composition, each step one declared-kernel
shape):

    sig   = batch_signatures(new_docs)          # the ONLY corpus-rate work
    dups  = probe_index(spark, state, sig)      # vs ALL prior shards
          ∪ self_pairs(sig)                     # within tonight's batch
    ...drop/cluster dups, then...
    append_to_index(sig, state, batch_id)       # tonight becomes corpus

Equivalence contract (test-pinned): running that flow batch-by-batch over
any sharding of a corpus finds EXACTLY the pair set (with identical
estimated jaccards) of the one-shot full-corpus ``minhash_lsh_pairs`` —
banding, hashes, and estimates are the same md5-derived arithmetic, so
the incremental path inherits the batch path's DuckDB-oracle pedigree.

Scale notes: probing joins the (small) nightly band set against the index
on (band, band_key) — Spark broadcasts the batch side, and the index scan
reads only the ``bands`` shards (column-pruned parquet).  The capped
probe's occupancy count runs over the index rows that carry one of the
batch's keys (a left-semi join against the broadcast batch keys), so its
shuffle is batch-proportional too.  The signature fetch joins the full
``sigs`` scan against the BROADCAST candidate set (batch-bounded: ≤ batch
bands × ``bucket_cap`` pairs when capped), so no index-side shuffle there
either — every Exchange left in the probe plan is proportional to the
nightly batch, never to the index.  Index growth is one band row per
(doc, band) and one 16-long array per doc — O(corpus docs), ~100
bytes/doc, 1/1000th of a 100 KB-average corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.hashing import (
    MERSENNE_P,
    hash60,
    seeded_hash60_from_base,
)
from vector_graph_rag_spark.functions.literals import inline_rows
from vector_graph_rag_spark.functions.memo import gateway_memo
from vector_graph_rag_spark.functions.text import tokens
from vector_graph_rag_spark.queries.dedup import (
    N_BANDS,
    N_MINHASH,
    ROWS_PER_BAND,
)
from vector_graph_rag_spark.streaming import shards
# the store's public listing IS the shard store's
from vector_graph_rag_spark.streaming.shards import list_batch_ids

# declared so a sigs directory that a dead write left empty reads as no rows
_SIG_SCHEMA = "doc_id long, sig array<long>"


def batch_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, sig array<long>) — k=16 minhash over 3-token shingles,
    identical arithmetic to ``queries/dedup`` (one md5 per shingle, the
    16 hashes affine transforms of the reduced base).  Documents with
    fewer than 3 tokens have no shingles and produce no row — they cannot
    near-dup by shingle overlap."""
    shingle_arr, hbase, aggs, sig = _signature_exprs()
    t = docs.select("doc_id", tokens(text_col).alias("toks"))
    sh = t.select("doc_id", F.explode(shingle_arr).alias("shingle")).select(
        "doc_id", hbase
    )
    return sh.groupBy("doc_id").agg(*aggs).select("doc_id", sig)


@gateway_memo
def _signature_exprs() -> tuple:
    """batch_signatures' constant expressions, built once per JVM
    (``functions/memo``): the shingle array over ``toks``, the reduced md5
    base of a ``shingle``, the N_MINHASH ``min`` aggregates and the
    signature array over their ``m<i>`` results."""
    shingle_arr = F.when(
        F.size("toks") >= 3,
        F.expr(
            "transform(sequence(0, size(toks)-3),"
            " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    hbase = (hash60("shingle") % F.lit(MERSENNE_P)).alias("hbase")
    aggs = tuple(
        F.min(seeded_hash60_from_base(F.col("hbase"), i)).alias(f"m{i}")
        for i in range(N_MINHASH)
    )
    sig = F.array(*[F.col(f"m{i}") for i in range(N_MINHASH)]).alias("sig")
    return shingle_arr, hbase, aggs, sig


def _bands_of(sig: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) — md5 of each band's signature slice
    (same key text as queries/dedup._bands_df).  ONE scan + row-local
    explode of the 4 band structs (r17) instead of a 4-way union that
    re-scanned the signature frame per band (guide §2.4)."""
    return sig.select("doc_id", F.explode(_band_entries()).alias("__e")).select(
        "doc_id", "__e.band", "__e.band_key"
    )


@gateway_memo
def _band_entries() -> Column:
    """array<struct<band, band_key>> over a ``sig`` column, built once per
    JVM (``functions/memo``)."""
    entries = []
    for b in range(N_BANDS):
        key = F.md5(
            F.concat_ws(
                ",",
                *[
                    F.col("sig")[b * ROWS_PER_BAND + r].cast("string")
                    for r in range(ROWS_PER_BAND)
                ],
            )
        )
        entries.append(
            F.struct(F.lit(b).alias("band"), key.alias("band_key"))
        )
    return F.array(*entries)


@gateway_memo
def _est_jaccard(a: str, b: str):
    """Fraction of agreeing minhashes between two sig arrays."""
    eq = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return eq.cast("double") / F.lit(N_MINHASH)


def _bands_root(state_dir: str) -> str:
    return os.path.join(state_dir, "bands")


def append_to_index(
    sig: DataFrame, state_dir: str, batch_id: int
) -> None:
    """Persist one batch's signatures + band keys in the shard store's
    commit order (``shards.write_batch``): the ``batch=<id>`` directory
    holding the sigs is the batch's commit marker — it is what
    :func:`list_batch_ids` lists and therefore what a probe reads — so
    the bands shard is replaced first and the sigs are published last.
    A probe therefore never lists a batch whose bands shard is missing,
    and a replayed batch id is exactly-once."""
    shards.write_batch(
        sig.sparkSession,
        batch_id,
        [
            (_bands_root(state_dir), lambda path: _bands_of(sig).write.parquet(path)),
            (state_dir, lambda path: sig.write.parquet(os.path.join(path, "sigs"))),
        ],
    )


def read_signatures(
    spark: SparkSession, state_dir: str, ids: list[int]
) -> DataFrame:
    """(doc_id, sig) of the given batches, read by explicit
    ``batch=<id>/sigs`` path."""
    return spark.read.schema(_SIG_SCHEMA).parquet(
        *[os.path.join(shards.batch_path(state_dir, i), "sigs") for i in ids]
    )


def hot_buckets(
    spark: SparkSession, state_dir: str, sig: DataFrame, bucket_cap: int,
    ids: list[int] | None = None,
) -> DataFrame:
    """(band, band_key) — the index buckets that
    ``probe_index(spark, state_dir, sig, bucket_cap, ids)`` skips: the
    batch's band keys that more than ``bucket_cap`` index rows hold.

    The index rows are first cut to the batch's keys (a left-semi join
    against the broadcast batch bands), so the occupancy count shuffles
    batch-proportional rows only; rows of other keys never meet the
    batch in the probe's candidate join, so leaving them uncounted
    cannot change the pair set."""
    if ids is None:
        ids = list_batch_ids(spark, state_dir)
    if not ids:
        return inline_rows(spark, [], "band int, band_key string")
    return (
        shards.read_batches(spark, _bands_root(state_dir), ids)
        .join(
            F.broadcast(_bands_of(sig).select("band", "band_key")),
            ["band", "band_key"],
            "left_semi",
        )
        .groupBy("band", "band_key")
        .count()
        .filter(F.col("count") > bucket_cap)
        .select("band", "band_key")
    )


def probe_index(
    spark: SparkSession, state_dir: str, sig: DataFrame,
    bucket_cap: int | None = None,
    ids: list[int] | None = None,
) -> DataFrame:
    """(index_doc_id, new_doc_id, est_jaccard) — every banded collision
    between the probe batch and ALL indexed shards.  The batch bands ride
    a broadcast against the index band scan, and the signature fetch
    builds on broadcast candidate and batch sides: no index-side
    Exchange, so every shuffle in the plan is batch-proportional and the
    probe stays flat as the index grows.

    ``bucket_cap``: the LSH skew guard — an index bucket holding more
    than ``cap`` docs is boilerplate/stop-text whose members exact-dedup
    catches first; probing it fans the join out by its full occupancy per
    matching new doc.  Capped buckets (:func:`hot_buckets`) drop from the
    probe, which also bounds the broadcast candidate set at batch bands ×
    cap.  At 100 TB pass a cap (the nightly CLI defaults one on); the
    default None preserves the exact one-shot equivalence contract.

    The index view is PINNED to the batch ids present at call time: both
    the band and the signature reads list those batches' dirs
    explicitly.  A probe is therefore safe to consume LAZILY after later
    appends of NEW batch ids — the returned plan can never see a batch
    that didn't exist when the probe was taken, so callers interleaving
    probe/append (the nightly flow, the registered incremental query)
    need no eager materialization between steps.  The guarantee does NOT
    extend to REPLAYING a batch id the probe already saw:
    ``append_to_index`` on an existing id deletes and rewrites that
    batch's shards (the idempotence contract), so an outstanding lazy
    probe pinned to the old files would hit missing-file failures or
    stale data — materialize outstanding probes before replaying a batch
    id (ADVICE r9).

    ``ids`` (r17): explicit batch-id pin overriding the FS listing — for
    callers that append several batches UP FRONT (overlapped independent
    writes, guide §2.6) and then probe each batch against exactly the
    batches that would have preceded it in the sequential nightly order.
    Semantics are identical to calling with the listing at that point in
    a sequential flow."""
    if ids is None:
        ids = list_batch_ids(spark, state_dir)
    if not ids:
        return inline_rows(
            spark, [], "index_doc_id long, new_doc_id long, est_jaccard double"
        )
    idx_bands = shards.read_batches(spark, _bands_root(state_dir), ids)
    idx_sigs = read_signatures(spark, state_dir, ids)
    batch_bands = _bands_of(sig)
    if bucket_cap is not None:
        batch_bands = batch_bands.join(
            F.broadcast(hot_buckets(spark, state_dir, sig, bucket_cap, ids)),
            ["band", "band_key"],
            "left_anti",
        )
    new_bands = F.broadcast(
        batch_bands.select(
            F.col("doc_id").alias("new_doc_id"), "band", "band_key"
        )
    )
    cand = (
        idx_bands.select(F.col("doc_id").alias("index_doc_id"), "band", "band_key")
        .join(new_bands, ["band", "band_key"])
        .filter(F.col("index_doc_id") != F.col("new_doc_id"))
        .select("index_doc_id", "new_doc_id")
        .distinct()
    )
    a = idx_sigs.select(F.col("doc_id").alias("index_doc_id"), F.col("sig").alias("sig_a"))
    b = sig.select(F.col("doc_id").alias("new_doc_id"), F.col("sig").alias("sig_b"))
    return (
        a.join(F.broadcast(cand), "index_doc_id")
        .join(F.broadcast(b), "new_doc_id")
        .select(
            "index_doc_id",
            "new_doc_id",
            _est_jaccard("sig_a", "sig_b").alias("est_jaccard"),
        )
    )


def self_pairs(sig: DataFrame, bucket_cap: int | None = None) -> DataFrame:
    """(doc_a, doc_b, est_jaccard), doc_a < doc_b — banded collisions
    WITHIN one batch (the nightly batch is its own dedup universe too).

    ``bucket_cap``: the same LSH skew guard as :func:`probe_index` — a
    boilerplate band key held by more than ``cap`` of tonight's docs would
    fan the self-join out quadratically in its occupancy; capped buckets
    drop from pairing (their members exact-dedup catches first).  The
    nightly CLI passes its ``--dedup-index-cap`` here too; the default
    None preserves the exact one-shot equivalence contract."""
    bands = _bands_of(sig)
    if bucket_cap is not None:
        hot = (
            bands.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") > bucket_cap)
            .select("band", "band_key")
        )
        bands = bands.join(F.broadcast(hot), ["band", "band_key"], "left_anti")
    x = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    y = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    cand = (
        x.join(y, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", _est_jaccard("sig_a", "sig_b").alias("est_jaccard"))
    )

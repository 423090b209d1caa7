"""Deduplication operator queries (north-star training-data-pipeline ops).

Not present in the reference (its only dedup is the build-time
normalized-key dedup, builder.py:76-109 — generalized here to corpus scale):

- exact dedup: hash-groupBy on normalized text — one shuffle on the hash.
- MinHash: k=16 universal hashes over 3-token shingles; LSH banding (4×4)
  turns the quadratic all-pairs problem into an equi-join on band keys —
  the 100 TB path for near-dup detection.
- SimHash: 16-bit sign-aggregated token fingerprint.
- n-gram Jaccard: exact verify step run AFTER candidate pruning.

All hashing is the cross-engine md5-derived family (functions/hashing.py),
so every query has an exact DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.hashing import (
    MERSENNE_P,
    hash60,
    seeded_hash60_from_base,
    seeded_hash60_sql,
)
from vector_graph_rag_spark.functions.text import normalize_phrase, tokens
from vector_graph_rag_spark.queries import register
from vector_graph_rag_spark.queries.sql_common import norm_sql
from vector_graph_rag_spark.sources.tables import load_table

N_MINHASH = 16
N_BANDS = 4
ROWS_PER_BAND = 4

# --- shared SQL: tokens / shingles over `documents` -------------------------

_SHINGLES_CTE = """
toks_raw AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
toks AS (
  SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS pos
  FROM toks_raw WHERE tok <> ''
),
shingles AS (
  SELECT doc_id, pos,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok, 2) OVER w IS NOT NULL
)
"""


def _shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, shingle) — 3-token shingles, JVM-side array ops only.

    NO under-parallel scan guard (r18, measured): the shingle pass read
    0.806s plain vs 0.771s repartitioned (neutral) and the minhash
    signature pass 0.615 vs 0.814 (the exchange ships the full text for
    map work too cheap to buy it back) — unlike the span-md5 pass in
    ``remove_shared_spans``, which keeps its guard."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("toks"))
    shingle_arr = F.when(
        F.size("toks") >= 3,
        F.expr(
            "transform(sequence(0, size(toks)-3),"
            " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return t.select("doc_id", F.posexplode(shingle_arr).alias("pos", "shingle"))


# --- exact dedup (hash-groupBy on normalized text) --------------------------

_EXACT_SQL = f"""
WITH keyed AS (
  SELECT doc_id, md5({norm_sql('text')}) AS text_key FROM documents
)
SELECT text_key, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_dups
FROM keyed GROUP BY text_key
"""


@register("dedup_exact", oracle=_EXACT_SQL, description="exact dedup: hash-groupBy on normalized text")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(normalize_phrase("text")).alias("text_key"))
        .groupBy("text_key")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# --- minhash signatures (long form: doc_id, h_idx, minhash) -----------------


def _minhash_wide_sql() -> str:
    mins = ", ".join(
        f"MIN({seeded_hash60_sql('shingle', i)}) AS m{i}" for i in range(N_MINHASH)
    )
    return f"sig AS (SELECT doc_id, {mins} FROM shingles GROUP BY doc_id)"


_MINHASH_SQL = (
    f"WITH {_SHINGLES_CTE},\n{_minhash_wide_sql()}\n"
    + "\nUNION ALL\n".join(
        f"SELECT doc_id, {i} AS h_idx, m{i} AS minhash FROM sig"
        for i in range(N_MINHASH)
    )
)


def _minhash_wide_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One md5 per shingle; the 16 signature hashes are affine transforms of
    # the reduced base (seeded_hash60_from_base) — 16× less hashing work.
    sh = _shingles_df(spark, sf_dir).select(
        "doc_id", (hash60("shingle") % F.lit(MERSENNE_P)).alias("hbase")
    )
    aggs = [
        F.min(seeded_hash60_from_base(F.col("hbase"), i)).alias(f"m{i}")
        for i in range(N_MINHASH)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


@register("minhash_signatures", oracle=_MINHASH_SQL, description="k=16 minhash over 3-token shingles")
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _minhash_wide_df(spark, sf_dir)
    stack_expr = "stack({}, {}) as (h_idx, minhash)".format(
        N_MINHASH, ", ".join(f"{i}, m{i}" for i in range(N_MINHASH))
    )
    return sig.select("doc_id", F.expr(stack_expr)).select(
        "doc_id", F.col("h_idx").cast("int").alias("h_idx"), "minhash"
    )


# --- minhash-LSH candidate pairs + signature-estimated jaccard --------------


def _band_key_sql(alias: str, b: int) -> str:
    cols = " || ',' || ".join(
        f"CAST({alias}.m{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
    )
    return f"md5({cols})"


_LSH_BANDS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band, {_band_key_sql('sig', b)} AS band_key FROM sig sig"
    for b in range(N_BANDS)
)

_EST_EQ = " + ".join(
    f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)" for i in range(N_MINHASH)
)

_LSH_SQL = f"""
WITH {_SHINGLES_CTE},
{_minhash_wide_sql()},
bands AS ({_LSH_BANDS}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.band_key = y.band_key
  WHERE x.doc_id < y.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(({_EST_EQ}) AS DOUBLE) / {N_MINHASH} AS est_jaccard
FROM cand c JOIN sig a ON a.doc_id = c.doc_a JOIN sig b ON b.doc_id = c.doc_b
"""


def _bands_df(sig: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) — md5 of each band's signature slice.

    ONE scan + row-local explode of the 4 band structs (r17) instead of a
    4-way union of projections: the union form re-scanned the signature
    frame once per band — 8 scans when both join sides reference the band
    table (guide §2.4: duplicated subtrees).  Row set identical."""
    entries = []
    for b in range(N_BANDS):
        key = F.md5(
            F.concat_ws(
                ",", *[F.col(f"m{b * ROWS_PER_BAND + r}").cast("string") for r in range(ROWS_PER_BAND)]
            )
        )
        entries.append(
            F.struct(F.lit(b).alias("band"), key.alias("band_key"))
        )
    return sig.select(
        "doc_id", F.explode(F.array(*entries)).alias("__e")
    ).select("doc_id", "__e.band", "__e.band_key")


@register(
    "minhash_lsh_pairs",
    oracle=_LSH_SQL,
    retired=True,  # r14 swap: knn_graph_mutual is the embedding-space banded pair generator (the dense sibling); banded-signature pair coverage stays driver-gated via dedup_incremental (same band table) and minhash_signatures stays active; r13-green
    description="LSH banding (4x4) candidate pairs + estimated jaccard",
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _minhash_wide_df(spark, sf_dir).cache()
    bands = _bands_df(sig)
    x = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    y = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    cand = (
        x.join(y, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = sig.select(F.col("doc_id").alias("doc_a"), *[F.col(f"m{i}").alias(f"am{i}") for i in range(N_MINHASH)])
    b_ = sig.select(F.col("doc_id").alias("doc_b"), *[F.col(f"m{i}").alias(f"bm{i}") for i in range(N_MINHASH)])
    eq = sum(
        F.when(F.col(f"am{i}") == F.col(f"bm{i}"), 1).otherwise(0) for i in range(N_MINHASH)
    )
    return (
        cand.join(a, "doc_a")
        .join(b_, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (eq.cast("double") / F.lit(N_MINHASH)).alias("est_jaccard"),
        )
    )


# --- exact n-gram jaccard on candidate pairs (verify step) ------------------
#
# Skew guard: a stop-shingle appearing in f documents contributes f² rows to
# the pair join, so shingles above a document-frequency cap are dropped from
# the universe BEFORE the join (the standard hot-key cap).  Sizes and
# intersections both use the capped universe, so jaccard stays a true set
# ratio over it.  The top-100 is
# orderBy().limit() — Spark compiles that to TakeOrderedAndProject (per-
# partition local top-100, tiny driver merge), never a single-partition
# global window sort.

_SHINGLE_DF_CAP = 50

_JACCARD_SQL = f"""
WITH {_SHINGLES_CTE},
doc_shingles_all AS (SELECT DISTINCT doc_id, shingle FROM shingles),
doc_shingles AS (
  SELECT doc_id, shingle FROM doc_shingles_all
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {_SHINGLE_DF_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM doc_shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM doc_shingles a JOIN doc_shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
jac AS (
  SELECT i.doc_a, i.doc_b, i.n_inter,
         round(CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter), 6) AS jaccard
  FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE i.n_inter >= 2
)
SELECT doc_a, doc_b, jaccard,
       CAST(row_number() OVER (ORDER BY jaccard DESC, doc_a ASC, doc_b ASC) AS INT) AS rk
FROM jac
QUALIFY rk <= 100
"""


@register(
    "ngram_jaccard_pairs",
    oracle=_JACCARD_SQL,
    description=(
        "3-gram jaccard verify over the hot-shingle-capped universe (df<=50; "
        "sizes+intersections computed post-cap, so `jaccard` is the set ratio "
        "over surviving shingles, not raw 3-gram jaccard), top-100 pairs"
    ),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lazy checkpoint (r17): the distinct-shingle stream feeds THREE plan
    # instances (the hot-cap agg, sizes, pair-gen) — the printed physical
    # plan shows 6 parquet scans with no ReusedExchange, so the tokenize+
    # shingle+distinct pipeline re-executed per consumer; one cached
    # execution instead (materialized inside the final job, no barrier)
    sh_all = (
        _shingles_df(spark, sf_dir)
        .select("doc_id", "shingle")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Hot-shingle cap via map-side-combined agg + broadcast ANTI-join against
    # the (tiny at any scale) hot set — the previous Window.partitionBy count
    # shuffled the full wide rows just to compute per-shingle df.  Shingles
    # with df > cap are by construction few, so the broadcast stays small
    # even at 100 TB, and the full rows are never shuffled for the cap.
    hot = (
        sh_all.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > _SHINGLE_DF_CAP)
        .select("shingle")
    )
    # No .cache(): both consumers (sizes, pair gen) sit in ONE final DAG, so
    # ReuseExchange dedupes the distinct-shuffle subtree; an explicit cache
    # only adds a materialization barrier ahead of the first action (measured
    # ~2x slower cold at sf0.1).
    sh = sh_all.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # Pair generation WITHOUT a self-join: group each surviving shingle's
    # doc list (bounded at <= cap by the anti-join above, so per-group state
    # is bounded) and explode the intra-array ordered pairs — one shuffle of
    # the shingle rows instead of two join-side shuffles, and doc_a < doc_b
    # holds by construction on the sorted distinct list.
    grouped = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc_id")).alias("docs")
    )
    pairs = grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(docs, (a, i) ->"
                " transform(slice(docs, i + 2, size(docs)),"
                " b -> struct(a AS doc_a, b AS doc_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    inter = (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .filter(F.col("n_inter") >= 2)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )
    # TakeOrderedAndProject bounds the sort; the rank window then runs over
    # at most 100 rows, never the full pair set.
    top = jac.orderBy(F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b")).limit(100)
    w = Window.orderBy(F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b"))
    return top.withColumn("rk", F.row_number().over(w)).select(
        "doc_a", "doc_b", "jaccard", "rk"
    )


# --- simhash (16-bit sign-aggregated token fingerprint) ---------------------

N_SIMHASH_BITS = 16


def _simhash_sql() -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) >= 0 THEN {1 << b} ELSE 0 END)"
        for b in range(N_SIMHASH_BITS)
    )
    from vector_graph_rag_spark.functions.hashing import hash60_sql

    return f"""
WITH toks_raw AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
dtoks AS (SELECT DISTINCT doc_id, tok FROM toks_raw WHERE tok <> ''),
hashed AS (SELECT doc_id, {hash60_sql('tok')} AS h FROM dtoks)
SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash
FROM hashed GROUP BY doc_id
"""


@register(
    "simhash_signatures",
    oracle=_simhash_sql(),
    description="16-bit simhash over distinct tokens",
    retired=True,  # r6 swap: signature-builder sibling of minhash_signatures; stays benched
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.functions.hashing import hash60

    d = load_table(spark, sf_dir, "documents")
    dtoks = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .distinct()
        .select("doc_id", hash60("tok").alias("h"))
    )
    bit_sum = None
    for b in range(N_SIMHASH_BITS):
        sign = F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
        term = F.when(F.sum(sign) >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        bit_sum = term if bit_sum is None else bit_sum + term
    return dtoks.groupBy("doc_id").agg(bit_sum.cast("bigint").alias("simhash"))


# --- near-dup clusters: LSH pairs → connected components → canonical doc ----
#
# The end-to-end dedup pipeline shape for a 100 TB corpus: candidate pairs
# from LSH banding (never all-pairs), threshold on estimated jaccard,
# 3 rounds of min-label propagation over the pair graph, keep the MIN
# doc_id of each cluster as canonical.  Composes the shared CC kernel
# (operators/graph_algos.py) with the minhash machinery above; the oracle
# unrolls the same recurrence.

_NEARDUP_THRESHOLD_EQ = 8  # est_jaccard >= 8/16 = 0.5

_CC_ROUND_DOC = """
{dst} AS (
  SELECT l.id, MIN(LEAST(l.comp, COALESCE(nl.comp, l.comp))) AS comp
  FROM {src} l
  LEFT JOIN edges e ON e.a = l.id
  LEFT JOIN {src} nl ON nl.id = e.b
  GROUP BY l.id
)"""

_NEARDUP_CLUSTERS_SQL = (
    f"""
WITH {_SHINGLES_CTE},
{_minhash_wide_sql()},
bands AS ({_LSH_BANDS}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.band_key = y.band_key
  WHERE x.doc_id < y.doc_id
),
pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c JOIN sig a ON a.doc_id = c.doc_a JOIN sig b ON b.doc_id = c.doc_b
  WHERE ({_EST_EQ}) >= {_NEARDUP_THRESHOLD_EQ}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
l0 AS (SELECT doc_id AS id, doc_id AS comp FROM documents),"""
    + ",".join(_CC_ROUND_DOC.format(src=f"l{i}", dst=f"l{i + 1}") for i in range(3))
    + """
SELECT id AS doc_id, comp AS cluster,
       CAST(CASE WHEN id = comp THEN 1 ELSE 0 END AS INT) AS is_canonical
FROM l3
"""
)


def _neardup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup edge list: LSH pairs above the est-jaccard threshold,
    eagerly ``localCheckpoint``-ed.  The CC loop references the edge frame
    once per round on BOTH sides of ``undirect`` — up to 6 instances of
    the whole minhash->band->bucket-join pipeline in one physical plan —
    so the (small, pair-count-sized) edge set is materialized once.
    Measured at sf0.1: 7.4s -> 0.6s warm for ``neardup_clusters``
    (SCALE.md §round-8 honest-tail profiling)."""
    return (
        minhash_lsh_pairs(spark, sf_dir)
        .filter(F.col("est_jaccard") >= _NEARDUP_THRESHOLD_EQ / N_MINHASH)
        # lazy (r17): the CC loop's first convergence action materializes
        # it — the banding pipeline still runs exactly once into the cache
        .localCheckpoint(eager=False)
    )


@register(
    "neardup_clusters",
    oracle=_NEARDUP_CLUSTERS_SQL,
    description="dedup pipeline: LSH pairs -> est_jaccard>=0.5 -> 3-round CC -> canonical=min doc_id per cluster",
    retired=True,  # r12 swap: multi-label LPA (entity_lpa_communities_k3) generalizes the capped-round min-label propagation inside this CC clustering; LSH pair generation stays driver-gated via minhash_lsh_pairs + dedup_incremental; r10-green
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.operators.graph_algos import (
        min_label_propagation,
        undirect,
    )

    pairs = _neardup_edges(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    labels = min_label_propagation(
        docs, undirect(pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))), rounds=3
    )
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("cluster"),
        (F.col("id") == F.col("comp")).cast("int").alias("is_canonical"),
    )


def neardup_clusters_converged(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int]:
    """Production variant of ``neardup_clusters``: the same LSH pair edges
    run through ``components_to_convergence`` instead of a fixed 3 rounds,
    so arbitrarily long duplicate chains (crawl mirrors-of-mirrors) close
    into one cluster regardless of diameter.  Returns (clusters_df,
    rounds_run); library op — the declared query keeps fixed k for oracle
    determinism, and the adequacy of k=3 at test scale is pinned by
    ``tests/test_curation_kernels.py::test_neardup_converged``.
    """
    from vector_graph_rag_spark.operators.graph_algos import (
        components_to_convergence,
        undirect,
    )

    pairs = _neardup_edges(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    # r18: loop on the active (endpoint) subgraph only and left-join the
    # tiny relabel map back onto the doc universe — isolated docs coalesce
    # to their own id, row-identical to the full-node-set r17 form.
    sub, rounds = components_to_convergence(
        None,
        undirect(pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))),
        active_only=True,
    )
    labels = docs.join(sub, "id", "left").select(
        "id", F.coalesce("comp", "id").alias("comp")
    )
    return (
        labels.select(
            F.col("id").alias("doc_id"),
            F.col("comp").alias("cluster"),
            (F.col("id") == F.col("comp")).cast("int").alias("is_canonical"),
        ),
        rounds,
    )


# --- incremental near-dup components (staged r15) ----------------------------

# To-convergence oracle: the per-node min label is the MIN over each node's
# transitive closure (WITH RECURSIVE reach) — exact components at ANY
# diameter, where the retired neardup_clusters capped at 3 rounds.  The
# closure CTE is |component|²-sized, fine for near-dup components (tiny by
# construction: the LSH threshold keeps them duplicate-cluster sized) —
# an oracle-side cost only; the Spark side iterates to the fixpoint.
_NEARDUP_CC_INC_SQL = (
    f"""
WITH RECURSIVE {_SHINGLES_CTE},
{_minhash_wide_sql()},
bands AS ({_LSH_BANDS}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.band_key = y.band_key
  WHERE x.doc_id < y.doc_id
),
pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c JOIN sig a ON a.doc_id = c.doc_a JOIN sig b ON b.doc_id = c.doc_b
  WHERE ({_EST_EQ}) >= {_NEARDUP_THRESHOLD_EQ}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
),
lbl AS (SELECT src, MIN(dst) AS m FROM reach GROUP BY src)
SELECT d.doc_id,
       LEAST(d.doc_id, COALESCE(l.m, d.doc_id)) AS cluster,
       CAST(CASE WHEN LEAST(d.doc_id, COALESCE(l.m, d.doc_id)) = d.doc_id
                 THEN 1 ELSE 0 END AS INT) AS is_canonical
FROM documents d LEFT JOIN lbl l ON l.src = d.doc_id
"""
)


@register(
    "neardup_cc_incremental",
    oracle=_NEARDUP_CC_INC_SQL,
    description=(
        "incremental near-dup components: standing min-doc-id labels "
        "merged with each nightly LSH edge batch by contracting components "
        "to their labels and running exact (to-convergence) CC on the "
        "label graph — incremental == one-shot by the partition-of-union "
        "property; the oracle is the one-shot TO-CONVERGENCE components "
        "via a recursive transitive-closure CTE (the retired "
        "neardup_clusters capped at 3 rounds)"
    ),
)
def neardup_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental component maintenance the way a 100 TB dedup pipeline
    runs it: the standing label table is doc-count sized, each nightly
    batch contracts its edges through the CURRENT labels (an edge between
    two already-merged components collapses to one label-graph edge), and
    the convergence loop runs on the CONTRACTED graph — label-count nodes,
    batch-pair edges — never on the corpus graph.  Exactness: connected
    components of a union of edge sets equal components of (components of
    the prefix, contracted, plus the new edges) — so three batch merges
    reproduce the one-shot result bit-for-bit, which is precisely what the
    hash gate checks against the closure oracle."""
    from vector_graph_rag_spark.operators.graph_algos import (
        components_to_convergence,
        undirect,
    )

    pairs = _neardup_edges(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    # lazy checkpoints throughout the batch loop: each is materialized by
    # its first consumer's job and reused after (identical lineage-cut
    # guarantee), saving one dedicated materialization job per batch —
    # measured 5.2 -> 4.6s warm-min at sf0.1 with row-identical output
    labels = docs.select("id", F.col("id").alias("comp")).localCheckpoint(
        eager=False
    )
    for b in range(3):
        eb = pairs.filter(F.col("doc_a") % 3 == b).select(
            F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
        )
        ce = (
            eb.join(
                labels.select(F.col("id").alias("a"), F.col("comp").alias("ca")), "a"
            )
            .join(
                labels.select(F.col("id").alias("b"), F.col("comp").alias("cb")), "b"
            )
            .select(F.col("ca").alias("a"), F.col("cb").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        # r18: the contracted batch graph's node universe is its own edge
        # endpoints (each ⊆ the standing labels' comp values by
        # construction) — nodes=None skips the per-batch corpus-sized
        # distinct over the label table, the CC loop iterates endpoint-
        # sized frames only, and the label update left-joins the TINY
        # active relabel map (broadcastable; isolated comps coalesce to
        # themselves, exactly the identity rows the inner-join form
        # carried through a corpus×corpus shuffle).
        sub, _rounds = components_to_convergence(
            None, undirect(ce), active_only=True
        )
        labels = (
            labels.join(
                sub.select(F.col("id").alias("comp"), F.col("comp").alias("newc")),
                "comp",
                "left",
            )
            .select("id", F.coalesce("newc", "comp").alias("comp"))
            .localCheckpoint(eager=False)
        )
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("cluster"),
        (F.col("id") == F.col("comp")).cast("int").alias("is_canonical"),
    )


# --- incremental dedup: new batch vs existing corpus ------------------------
#
# The shape a training-data pipeline actually runs: an incoming crawl batch
# is checked against the already-ingested corpus, never corpus-vs-corpus.
# At 100 TB the corpus band index is precomputed once and stored partitioned
# by (band, band_key); each incoming batch (orders of magnitude smaller)
# computes its own bands and equi-joins — candidate volume is
# |incoming buckets| x bucket occupancy, bounded by a corpus-side hot-bucket
# cap (a bucket with > cap corpus members is boilerplate/stop-text; matching
# against it yields no useful keeper and would fan out the join), and the
# incoming side broadcasts when small.
# Here both sides derive from `documents` with a deterministic split
# (doc_id % 10 = 0 -> incoming) so the DuckDB oracle can replay it exactly.

_INCR_BUCKET_CAP = 50

_INCR_SQL = f"""
WITH {_SHINGLES_CTE},
{_minhash_wide_sql()},
bands AS ({_LSH_BANDS}),
incoming AS (SELECT * FROM bands WHERE doc_id % 10 = 0),
corpus_all AS (SELECT * FROM bands WHERE doc_id % 10 <> 0),
hot AS (
  SELECT band, band_key FROM corpus_all
  GROUP BY band, band_key HAVING COUNT(*) > {_INCR_BUCKET_CAP}
),
corpus AS (
  SELECT ca.* FROM corpus_all ca
  WHERE NOT EXISTS (
    SELECT 1 FROM hot h WHERE h.band = ca.band AND h.band_key = ca.band_key
  )
),
matches AS (
  SELECT DISTINCT i.doc_id AS incoming_doc_id, c.doc_id AS corpus_doc_id
  FROM incoming i JOIN corpus c ON i.band = c.band AND i.band_key = c.band_key
)
SELECT incoming_doc_id,
       MIN(corpus_doc_id) AS matched_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_corpus_matches
FROM matches
GROUP BY incoming_doc_id
"""


@register(
    "dedup_incremental",
    oracle=_INCR_SQL,
    description=(
        "incremental near-dup: incoming batch (doc_id%10=0) LSH-banded "
        "against the existing corpus index — the batch-vs-corpus shape a "
        "training pipeline runs, never corpus-vs-corpus"
    ),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _minhash_wide_df(spark, sf_dir)
    # lazy checkpoint (r17): the band stream feeds THREE plan instances
    # (incoming, the hot-bucket count, the corpus side) and nothing
    # dedupes the repeated minhash pipeline at runtime (the
    # ngram_jaccard_pairs finding) — one cached execution instead
    bands = _bands_df(sig).localCheckpoint(eager=False)
    incoming = bands.filter(F.col("doc_id") % 10 == 0).alias("i")
    corpus_all = bands.filter(F.col("doc_id") % 10 != 0)
    # Corpus-side hot-bucket cap: map-side-combined count, few survivors by
    # definition, broadcast anti-join — the same skew guard as the other LSH
    # candidate generators, here protecting the batch-vs-corpus join.
    hot = (
        corpus_all.groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") > _INCR_BUCKET_CAP)
        .select("band", "band_key")
    )
    corpus = corpus_all.join(F.broadcast(hot), ["band", "band_key"], "left_anti").alias("c")
    matches = (
        incoming.join(corpus, ["band", "band_key"])
        .select(
            F.col("i.doc_id").alias("incoming_doc_id"),
            F.col("c.doc_id").alias("corpus_doc_id"),
        )
        .distinct()
    )
    return matches.groupBy("incoming_doc_id").agg(
        F.min("corpus_doc_id").alias("matched_doc_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_corpus_matches"),
    )


# --- exact substring dedup (ExactSubstr, Lee et al. 2022) -------------------


def remove_shared_spans(
    d: DataFrame, span_tokens: int = 10, min_docs: int = 2
) -> DataFrame:
    """Exact-substring dedup: cut every occurrence of any ``span_tokens``-long
    token span that appears in ≥ ``min_docs`` DISTINCT documents (the
    ExactSubstr policy of Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better" — remove all copies, token-level stand-in
    for their suffix-array byte spans).

    Dataflow (all JVM built-ins):
    1. explode every stride-1 span as (doc_id, pos, md5(span)) — linear in
       corpus tokens;
    2. repeated spans = groupBy(hash) with COUNT(DISTINCT doc_id) ≥ min_docs
       (sort-based agg, hash-partitioned — a stop-span's group is large but
       never driver-resident);
    3. semi-join spans back to the repeated set → per-doc marked start
       positions (one shuffle on the hash key);
    4. row-local masking: token i is dropped iff some marked start p covers
       it (p ≤ i < p+L) — an ``exists`` over the per-doc marked-position
       array, no further shuffle.

    Returns (doc_id, n_tokens, n_removed_tokens, cleaned_text).  Hash
    collisions (md5/60-bit keyspace vs corpus span count) are the standard
    ExactSubstr trade; a verify join on the literal span string would add
    one more shuffle if ever needed.

    The token table and the span table are each consumed by MULTIPLE plan
    branches (spans: the repeated-set agg AND the semi-join back; toks:
    the span explode AND the final mask), and Spark re-executes duplicated
    subtrees — both are therefore eagerly materialized, replacing 2-3
    re-runs of the tokenize + per-span-md5 pass (measured 3.1s -> 1.15s
    warm at sf0.1).  The materialized working set is O(corpus tokens) with
    MEMORY_AND_DISK spill — the same order as the span table ExactSubstr
    inherently operates on (Lee et al. materialize full suffix arrays).
    """
    L = span_tokens
    # under-parallel scan guard (functions/partitioning, r18): the per-span
    # md5 over L-token concats is this operator's dominant map cost and
    # serializes on a one-file corpus's single scan task — interleaved A/B
    # 1.89s -> 1.17s warm at sf0.1.  Counts / sorted mark lists / row-local
    # masking are all exact, so layout cannot change results; a multi-file
    # corpus skips the exchange.  (The cheap-map text passes — bigram LM,
    # feature hashing, 3-token shingles — measured NEUTRAL-to-worse under
    # the same guard and deliberately do not carry it.)
    from vector_graph_rag_spark.functions.partitioning import (
        ensure_parallel_scan,
    )

    d = ensure_parallel_scan(d)
    # lazy (r17): every consumer (span explode below, final mask) sits in
    # the one returned DAG — the tokenize pass runs once into the cache
    # with no dedicated materialization job
    t = d.select("doc_id", tokens("text").alias("toks")).localCheckpoint(
        eager=False
    )
    span_arr = F.when(
        F.size("toks") >= L,
        F.expr(
            f"transform(sequence(0, size(toks)-{L}),"
            f" i -> md5(concat_ws(' ', slice(toks, i+1, {L}))))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    # lazy: repeated-set agg + semi-join both live in the final DAG too
    spans = t.select(
        "doc_id", F.posexplode(span_arr).alias("pos", "h")
    ).localCheckpoint(eager=False)

    repeated = (
        spans.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    marked = (
        spans.join(repeated, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("marks"))
    )
    masked = t.join(marked, "doc_id", "left").select(
        "doc_id",
        "toks",
        F.coalesce("marks", F.array().cast("array<int>")).alias("marks"),
    )
    kept = F.filter(
        F.expr("transform(toks, (tok, i) -> struct(tok as tok, i as i))"),
        lambda s: ~F.exists(
            "marks", lambda p: (p <= s["i"]) & (s["i"] < p + F.lit(L))
        ),
    )
    return masked.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).cast("bigint").alias("n_removed_tokens"),
        F.array_join(F.transform(kept, lambda s: s["tok"]), " ").alias("cleaned_text"),
    )

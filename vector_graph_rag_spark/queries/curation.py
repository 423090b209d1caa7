"""Corpus-curation operators — the training-data pipeline beyond the reference.

The reference engine stops at retrieval (SURVEY §2); a 100 TB pretraining
pipeline additionally runs curation passes between raw crawl and training
shards.  Five of them are declared here, each hash-gated against a DuckDB
oracle:

- benchmark decontamination via n-gram overlap (the GPT-3 appendix-C /
  "training-data contamination" check): corpus documents sharing any 5-token
  gram with a held-out benchmark set are flagged;
- PII redaction (email / phone / IPv4 regex scrub) with per-document match
  counts and a redacted-text hash;
- Gopher-style repetition filters (Rae et al. 2021, §A1.1): distinct-token
  ratio, top-token fraction, top-bigram fraction, mean token length;
- fixed-token-budget sequence packing: greedy first-fit of documents into
  training sequences, sharded so packing parallelizes;
- SemDeDup-style k-means over the embedding table (Abbas et al. 2023),
  integer-quantized so Spark and the SQL oracle agree bit-for-bit.

Scale notes per operator are in the docstrings; none shuffles more than the
aggregation pattern it is built from, and the only Python on the hot path is
the per-shard packing loop (``applyInPandas`` — genuinely sequential within
a shard, embarrassingly parallel across shards).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.hashing import seeded_hash60, seeded_hash60_sql
from vector_graph_rag_spark.functions.literals import inline_rows
from vector_graph_rag_spark.functions.partitioning import ensure_parallel_scan
from vector_graph_rag_spark.functions.text import tokens
from vector_graph_rag_spark.queries import register
from vector_graph_rag_spark.sources.tables import load_table

# --- benchmark decontamination (5-token-gram overlap) -----------------------

# The benchmark/eval set is the held-out slice doc_id % 37 == 0 (a stand-in
# for "the test sets of the benchmarks we evaluate on"); everything else is
# corpus.  GPT-3 used 13-grams; 5 fits the short synthetic documents while
# exercising the identical dataflow.
_DECON_N = 5
_DECON_MOD = 37

_GRAMS5_CTE = f"""
toks_raw AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
toks AS (
  SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS pos
  FROM toks_raw WHERE tok <> ''
),
grams AS (
  SELECT doc_id,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
             || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w AS gram
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok, {_DECON_N - 1}) OVER w IS NOT NULL
)
"""

_DECON_SQL = f"""
WITH {_GRAMS5_CTE},
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % {_DECON_MOD} = 0),
corpus AS (SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % {_DECON_MOD} <> 0),
counts AS (
  SELECT doc_id, COUNT(*) AS n_grams,
         COUNT(*) FILTER (WHERE gram IN (SELECT gram FROM bench)) AS n_shared
  FROM corpus GROUP BY doc_id
)
SELECT doc_id, n_shared AS n_shared_grams, n_grams,
       round(n_shared * 1.0 / n_grams, 6) AS contamination_ratio
FROM counts WHERE n_shared >= 1
"""


def _grams5_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("toks"))
    n = _DECON_N
    arr = F.when(
        F.size("toks") >= n,
        F.expr(
            f"transform(sequence(0, size(toks)-{n}), i -> "
            f"concat_ws(' ', {', '.join(f'toks[i+{j}]' for j in range(n))}))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return t.select("doc_id", F.explode(arr).alias("gram"))


@register(
    "contamination_ngram_overlap",
    oracle=_DECON_SQL,
    description=(
        "benchmark decontamination: corpus docs sharing any 5-token gram with "
        "the held-out benchmark slice (GPT-3 appendix-C check); benchmark gram "
        "set broadcast"
    ),
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag corpus documents that leak benchmark content.

    Scale: the benchmark side is small by construction (eval sets are
    thousands of documents, not billions), so its distinct-gram set rides a
    broadcast semi-join; the corpus side is one explode + one map-side-
    combined aggregation — a linear scan at 100 TB, no corpus-sized shuffle
    beyond the per-doc gram dedup.
    """
    grams = _grams5_df(spark, sf_dir)
    bench = (
        grams.filter(F.col("doc_id") % _DECON_MOD == 0).select("gram").distinct()
    )
    corpus = (
        grams.filter(F.col("doc_id") % _DECON_MOD != 0)
        .select("doc_id", "gram")
        .distinct()
    )
    hit = F.when(F.col("hit_gram").isNotNull(), 1).otherwise(0)
    counts = (
        corpus.join(
            F.broadcast(bench.withColumnRenamed("gram", "hit_gram")),
            corpus["gram"] == F.col("hit_gram"),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(hit).alias("n_shared_grams"),
        )
    )
    return (
        counts.filter(F.col("n_shared_grams") >= 1)
        .select(
            "doc_id",
            "n_shared_grams",
            "n_grams",
            F.round(F.col("n_shared_grams") / F.col("n_grams"), 6).alias(
                "contamination_ratio"
            ),
        )
        .orderBy("doc_id")
    )


# --- PII redaction ----------------------------------------------------------

# Patterns restricted to syntax Java regex and RE2 treat identically (no
# backreferences, no lookaround).  The corpus is synthetic word-soup, so PII
# is injected deterministically from doc_id before scrubbing — the operator
# under test is the scrub, the injection is fixture.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b555-[0-9]{4}\b"
_PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"

_PII_AUG_SQL = """
  text
  || CASE WHEN doc_id % 3 = 0
          THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
  || CASE WHEN doc_id % 5 = 0
          THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
  || CASE WHEN doc_id % 7 = 0
          THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
               || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END
"""

_PII_SQL = f"""
WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents),
red AS (
  SELECT doc_id, t,
         regexp_replace(
           regexp_replace(
             regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g'),
           '{_PII_IP}', '<IP>', 'g') AS redacted
  FROM aug
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS BIGINT) AS n_ips,
       md5(redacted) AS redacted_md5
FROM red
"""


@register(
    "pii_redaction_profile",
    oracle=_PII_SQL,
    description=(
        "PII scrub: email/phone/IPv4 regex redaction with per-doc match "
        "counts + redacted-text md5 (injected deterministic PII fixture)"
    ),
)
def pii_redaction_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact PII and account for every removal.

    Scale: pure per-row JVM regex expressions (whole-stage codegen), zero
    shuffle, zero Python — the shape of every 100 TB scrub pass.
    """
    return pii_scrub(load_table(spark, sf_dir, "documents"))


def pii_scrub(d: DataFrame) -> DataFrame:
    """The scrub projection over any (doc_id, text) DataFrame — batch or
    streaming (stateless per-row expressions, so the same plan runs under
    Structured Streaming unchanged; see ``pii_scrub_stream``)."""
    doc_id = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            doc_id % 3 == 0,
            F.concat(F.lit(" contact user"), doc_id.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            doc_id % 5 == 0,
            F.concat(F.lit(" call 555-"), F.lpad((doc_id % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            doc_id % 7 == 0,
            F.concat(
                F.lit(" host 10."),
                (doc_id % 256).cast("string"),
                F.lit(".0."),
                ((doc_id * 7) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    t = d.select("doc_id", aug.alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )
    return t.select(
        "doc_id",
        F.regexp_count("t", F.lit(_PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count("t", F.lit(_PII_PHONE)).cast("bigint").alias("n_phones"),
        F.regexp_count("t", F.lit(_PII_IP)).cast("bigint").alias("n_ips"),
        F.md5(redacted).alias("redacted_md5"),
    )


def pii_scrub_stream(spark: SparkSession, docs_path: str) -> DataFrame:
    """Streaming PII scrub: the exact batch projection applied to a file
    stream of document parquet — the continuous-ingest shape of the scrub
    pass (new crawl shards land in a directory, redacted rows stream out).
    Stateless projection ⇒ no watermark, no state store; drain with
    availableNow for deterministic tests."""
    from vector_graph_rag_spark.streaming.ingest import file_stream

    return pii_scrub(file_stream(spark, docs_path))


# --- Gopher-style repetition filters ----------------------------------------

_REP_SQL = """
WITH toks_raw AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
toks AS (
  SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos
  FROM toks_raw WHERE tok <> ''
),
tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
ta AS (
  SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_distinct, MAX(c) AS top_token_n,
         SUM(length(tok) * c) AS len_sum
  FROM tc GROUP BY doc_id
),
big_raw AS (
  SELECT doc_id, tok || ' ' || lead(tok, 1) OVER w AS bigram
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok, 1) OVER w IS NOT NULL
),
bc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM big_raw GROUP BY doc_id, bigram),
ba AS (SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram_n FROM bc GROUP BY doc_id)
SELECT t.doc_id,
       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(t.n_distinct AS BIGINT) AS n_distinct,
       round(t.n_distinct * 1.0 / t.n_tokens, 6) AS distinct_ratio,
       round(t.top_token_n * 1.0 / t.n_tokens, 6) AS top_token_frac,
       round(COALESCE(b.top_bigram_n * 1.0 / b.n_bigrams, 0.0), 6) AS top_bigram_frac,
       round(t.len_sum * 1.0 / t.n_tokens, 6) AS mean_token_len,
       (t.n_distinct * 1.0 / t.n_tokens >= 0.45
        AND t.top_token_n * 1.0 / t.n_tokens <= 0.10) AS pass_repetition
FROM ta t LEFT JOIN ba b ON t.doc_id = b.doc_id
"""


@register(
    "repetition_quality_filters",
    oracle=_REP_SQL,
    description=(
        "Gopher-style repetition filters: distinct-token ratio, top-token / "
        "top-bigram fractions, mean token length + pass flag (Rae et al. "
        "2021 §A1.1)"
    ),
)
def repetition_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals for quality gating.

    Note the bigram window in the oracle orders by first-appearance position;
    bigram COUNTS are position-independent, so the Spark side derives bigrams
    from the token array directly.

    Scale: explode + two map-side-combined aggregations (token counts,
    bigram counts) + one broadcast-sized join back per doc — the same
    two-shuffle shape as word-count, linear in corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("toks"))
    tok = t.select("doc_id", F.explode("toks").alias("tok"))
    tc = tok.groupBy("doc_id", "tok").count()
    ta = tc.groupBy("doc_id").agg(
        F.sum("count").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("count").alias("top_token_n"),
        F.sum(F.length("tok") * F.col("count")).alias("len_sum"),
    )
    bigrams = t.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.expr(
                    "transform(sequence(0, size(toks)-2),"
                    " i -> concat_ws(' ', toks[i], toks[i+1]))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram"),
    )
    bc = bigrams.groupBy("doc_id", "bigram").count()
    ba = bc.groupBy("doc_id").agg(
        F.sum("count").alias("n_bigrams"), F.max("count").alias("top_bigram_n")
    )
    distinct_ratio = F.col("n_distinct") / F.col("n_tokens")
    top_token_frac = F.col("top_token_n") / F.col("n_tokens")
    return ta.join(ba, "doc_id", "left").select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(top_token_frac, 6).alias("top_token_frac"),
        F.round(
            F.coalesce(F.col("top_bigram_n") / F.col("n_bigrams"), F.lit(0.0)), 6
        ).alias("top_bigram_frac"),
        F.round(F.col("len_sum") / F.col("n_tokens"), 6).alias("mean_token_len"),
        ((distinct_ratio >= 0.45) & (top_token_frac <= 0.10)).alias("pass_repetition"),
    )


# --- sequence packing (fixed token budget) ----------------------------------

_PACK_BUDGET = 256
_PACK_SHARDS = 8

_PACK_SQL = f"""
WITH RECURSIVE ranked AS (
  SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY doc_id % {_PACK_SHARDS} ORDER BY doc_id) AS rn
  FROM documents
),
pack AS (
  SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS seq_id,
         n_tokens AS fill, CAST(0 AS BIGINT) AS pos_in_seq
  FROM ranked WHERE rn = 1
  UNION ALL
  SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
         CASE WHEN p.fill + d.n_tokens <= {_PACK_BUDGET}
              THEN p.seq_id ELSE p.seq_id + 1 END,
         CASE WHEN p.fill + d.n_tokens <= {_PACK_BUDGET}
              THEN p.fill + d.n_tokens ELSE d.n_tokens END,
         CASE WHEN p.fill + d.n_tokens <= {_PACK_BUDGET}
              THEN p.pos_in_seq + 1 ELSE CAST(0 AS BIGINT) END
  FROM pack p JOIN ranked d ON d.shard = p.shard AND d.rn = p.rn + 1
)
SELECT doc_id, shard, seq_id, pos_in_seq, n_tokens FROM pack
"""


@register(
    "sequence_packing",
    oracle=_PACK_SQL,
    description=(
        "training-sequence packing: greedy first-fit of docs into "
        f"{_PACK_BUDGET}-token sequences, sharded {_PACK_SHARDS} ways; "
        "recursive-CTE oracle"
    ),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed-token-budget training sequences.

    Greedy first-fit is inherently sequential, so it is sharded: documents
    hash to a shard (``doc_id % {shards}``), each shard packs independently
    in doc_id order inside one ``applyInPandas`` group.  At 100 TB the shard
    count scales with the cluster (thousands of shards ⇒ thousands of
    parallel sequential scans, each memory-bounded); the single shuffle is
    the groupBy(shard).  A doc over budget occupies its own sequence — the
    same rule the oracle's recursive CTE applies.
    """
    return pack_sequences(load_table(spark, sf_dir, "documents"))


def pack_sequences(
    d: DataFrame,
    budget: int = _PACK_BUDGET,
    shards: int = _PACK_SHARDS,
    order_col=None,
) -> DataFrame:
    """Parametrizable packing over any (doc_id, text) DataFrame.  At 100 TB
    ``shards`` scales with the cluster (thousands of shards ⇒ thousands of
    parallel, memory-bounded sequential scans); the declared query fixes
    budget/shards for the oracle.

    ``order_col``: an optional Column giving each document's pack-order
    SORT KEY within its shard (ties broken by doc_id) — this is the
    documented curriculum escalation: instead of a corpus-sized ordinal
    window (queries/textstats.curriculum_order), the key rides the
    existing per-shard sequential pack, so curriculum ordering costs
    nothing beyond the column expression.  Default None = doc_id order,
    the oracle-gated behavior."""
    cols = [
        "doc_id",
        (F.col("doc_id") % shards).alias("shard"),
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
    ]
    order_cols = ["doc_id"]
    if order_col is not None:
        cols.append(order_col.cast("long").alias("pack_order"))
        order_cols = ["pack_order", "doc_id"]
    sized = d.select(*cols)
    # NB: applyInPandas calls a TWO-parameter function as (key, pdf); the
    # lambda pins the one-argument form so _pack_shard's budget kwarg (used
    # by tests) can't be mistaken for the group key.
    return sized.groupBy("shard").applyInPandas(
        lambda pdf: _pack_shard(pdf, budget=budget, order_cols=order_cols),
        "doc_id long, shard long, seq_id long, pos_in_seq long, n_tokens long",
    )


def write_training_shards(
    d: DataFrame,
    out_dir: str,
    budget: int = _PACK_BUDGET,
    shards: int = _PACK_SHARDS,
    order_col=None,
) -> None:
    """The curation sink: pack documents into training sequences and write
    one row PER SEQUENCE, partitioned by shard — the layout a trainer's
    data loader consumes (sequences are pre-assembled; a shard directory is
    a worker's input split).

    Each sequence row carries its documents in pack order (``doc_ids``),
    the assembled ``sequence_text`` (documents joined by newline — the
    usual doc-separator token position), and ``n_tokens`` for length
    bucketing.  One shuffle for the pack (groupBy shard), one for the
    per-sequence assembly (groupBy shard,seq_id); the partitionBy(shard)
    write keeps each shard's sequences in its own directory.
    """
    packed = pack_sequences(d, budget=budget, shards=shards, order_col=order_col)
    with_text = packed.join(d.select("doc_id", "text"), "doc_id")
    seqs = (
        with_text.groupBy("shard", "seq_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("pos_in_seq", "doc_id", "n_tokens", "text"))
            ).alias("parts")
        )
        .select(
            "shard",
            "seq_id",
            F.transform("parts", lambda p: p["doc_id"]).alias("doc_ids"),
            F.aggregate(
                "parts", F.lit(0).cast("bigint"), lambda acc, p: acc + p["n_tokens"]
            ).alias("n_tokens"),
            F.array_join(
                F.transform("parts", lambda p: p["text"]), "\n"
            ).alias("sequence_text"),
        )
    )
    seqs.write.mode("overwrite").partitionBy("shard").parquet(out_dir)


def _pack_shard(
    pdf: pd.DataFrame, budget: int = _PACK_BUDGET, order_cols=("doc_id",)
) -> pd.DataFrame:
    """Greedy first-fit over one shard's docs in ``order_cols`` order —
    doc_id by default, (pack_order, doc_id) for curriculum packing (the
    sequential kernel inside applyInPandas; module-level so tests exercise
    it directly)."""
    pdf = pdf.sort_values(list(order_cols)).reset_index(drop=True)
    seq_ids, positions = [], []
    seq_id, fill, pos = 0, 0, -1
    first = True
    for n in pdf["n_tokens"]:
        if first:
            fill, pos, first = n, 0, False
        elif fill + n <= budget:
            fill, pos = fill + n, pos + 1
        else:
            seq_id, fill, pos = seq_id + 1, n, 0
        seq_ids.append(seq_id)
        positions.append(pos)
    pdf["seq_id"] = pd.Series(seq_ids, dtype="int64")
    pdf["pos_in_seq"] = pd.Series(positions, dtype="int64")
    return pdf[["doc_id", "shard", "seq_id", "pos_in_seq", "n_tokens"]]


# --- SemDeDup-style k-means over embeddings ---------------------------------

# Quantize embedding components to integers (round(x * 1000) after an exact
# float→double widening) so every distance, centroid, and comparison is
# integer-exact in both engines — the same precision discipline as the SQ8
# quantized top-k (queries/hybrid.py), applied to clustering.
_KM_K = 8
_KM_DIM = 64
_KM_SCALE = 1000

# CTE chain shared by kmeans_embedding_clusters and the staged semdedup_keep
# (which extends the final assignment with the intra-cluster keep rule).
def _km_ctes(seeds_cte: str) -> str:
    """The Lloyd CTE chain with a pluggable seed-selection CTE (must define
    ``seeds(vec_id)``): the fixed-k active query uses a plain LIMIT, the
    staged semdedup uses the data-derived k = ceil(sqrt(n))."""
    return f"""q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT)) AS qv
  FROM embeddings WHERE embedding IS NOT NULL
),
qd AS (
  -- pos derives from each row's OWN vector length (parallel unnest of two
  -- equal-length lists), matching the Spark side's dim-from-data rule in
  -- _train_centroids: a corpus with embedding dim != {_KM_DIM} mis-zipped
  -- the old fixed range(1, {_KM_DIM + 1}) with NULL padding (r11 ADVICE).
  SELECT vec_id, unnest(range(1, len(qv) + 1)) AS pos, unnest(qv) AS x FROM q
),
{seeds_cte},
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster, vec_id
  FROM seeds
),
c0d AS (SELECT c0.cluster, qd.pos, qd.x AS c FROM c0 JOIN qd ON qd.vec_id = c0.vec_id),
d1 AS (
  SELECT v.vec_id, c.cluster, SUM((v.x - c.c) * (v.x - c.c)) AS dist
  FROM qd v JOIN c0d c ON v.pos = c.pos GROUP BY v.vec_id, c.cluster
),
a1 AS (
  SELECT vec_id, cluster FROM d1
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1
),
c1d AS (
  SELECT a.cluster, v.pos,
         CAST(floor(CAST(SUM(v.x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
  FROM a1 a JOIN qd v ON v.vec_id = a.vec_id GROUP BY a.cluster, v.pos
),
d2 AS (
  SELECT v.vec_id, c.cluster, CAST(SUM((v.x - c.c) * (v.x - c.c)) AS BIGINT) AS dist
  FROM qd v JOIN c1d c ON v.pos = c.pos GROUP BY v.vec_id, c.cluster
)"""


_KM_CTES = _km_ctes(
    f"seeds AS (SELECT vec_id FROM q ORDER BY vec_id LIMIT {_KM_K})"
)

# Data-derived k = ceil(sqrt(n)): at a fixed k, cluster occupancy — and with
# it every within-cluster pair search — grows linearly with the corpus, so
# pair volume grows n²; k ~ sqrt(n) holds occupancy to ~sqrt(n) and pair
# volume to ~n^1.5, the SemDeDup deployment recipe.
_KM_CTES_SQRT_K = _km_ctes(
    """kk AS (SELECT CAST(ceil(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS k FROM q),
seeds AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM q
  ) CROSS JOIN kk WHERE rn <= kk.k
)"""
)

_KM_SQL = f"""
WITH {_KM_CTES}
SELECT vec_id, cluster, dist FROM d2
QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1
"""


def _km_assign(q: DataFrame, centroids: list[tuple[int, list[int]]]) -> DataFrame:
    """Argmin squared-L2 over broadcast centroid literals.  ``centroids`` is
    ``[(cluster_id, vector), ...]`` sorted by cluster_id, so the first
    minimum ``array_position`` finds breaks ties toward the lowest cluster
    id — the oracle's ``ORDER BY dist, cluster`` rule.

    The centroid matrix is ONE nested array literal looped by a single
    ``transform`` (not k separate aggregate expressions): same plan shape,
    ~k× smaller expression tree for Catalyst to analyze and codegen.

    The k-distance array is bound ONCE as a lambda variable
    (``transform(array(dists), d -> ...)[0]``, the l2_normalize
    let-binding): the argmin needs it three times (position of min, the
    min itself), and collapsed projections would otherwise inline the
    full k×dim distance computation per reference (measured 1.8 -> 1.4s
    warm per assignment pass at sf0.1; results identical)."""
    # one JVM-parsed literal (functions/literals.py): building k*dim F.lit
    # columns over py4j costs ~1s of driver time PER assignment pass
    from vector_graph_rag_spark.functions.literals import int_array_lit

    cmat = int_array_lit(
        [list(c) for _, c in centroids], "array<array<bigint>>"
    )
    dists = F.transform(
        cmat,
        lambda c: F.aggregate(
            F.zip_with("qv", c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    ids = int_array_lit([cid for cid, _ in centroids], "array<bigint>")
    picked = F.transform(
        F.array(dists),
        lambda d: F.struct(
            F.element_at(
                ids, F.array_position(d, F.array_min(d)).cast("int")
            ).alias("cluster"),
            F.array_min(d).alias("dist"),
        ),
    )[0]
    return q.select(
        "vec_id",
        "qv",
        picked["cluster"].alias("cluster"),
        picked["dist"].alias("dist"),
    )


def _km_assign_np(q: DataFrame, centroids: list[tuple[int, list[int]]]) -> DataFrame:
    """Numpy twin of :func:`_km_assign` (Arrow-batched ``mapInPandas``, the
    sanctioned pandas scale path) — BIT-EXACT by construction: quantized
    components are |x| <= _KM_SCALE, so every product (<= 64·10^6), squared
    distance (<= 2.6·10^8) and argmin key stays an exact int64 integer —
    the identical values the JVM bigint fold produces, including the
    first-minimum == lowest-cluster-id tie rule (centroids sorted by id,
    ``np.argmin`` returns the first occurrence).  Exactness is pinned by
    ``tests/test_curation_kernels.py::test_km_assign_np_bitexact_vs_hof``.

    Used by the kNN-graph/semdedup family and by the Lloyd training loop
    (:func:`_train_centroids`), where k = ceil(sqrt(n)) makes the HOF
    form's k×dim Catalyst literal + interpreted n·k·dim fold the dominant
    smoke cost; the active fixed-k queries keep the JVM form for their
    final assignment, whose plan shape is pinned by
    tests/test_plans.py::test_kmeans_assignment_stage_is_jvm_only."""
    import numpy as np
    import pandas as pd

    C = np.asarray([c for _, c in centroids], dtype=np.int64)  # (k, dim)
    ids = np.asarray([cid for cid, _ in centroids], dtype=np.int64)
    c2 = np.einsum("ij,ij->i", C, C)  # |c|², exact

    def _assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.asarray(pdf["qv"].tolist(), dtype=np.int64)
            # |v-c|² = |v|² - 2v·c + |c|² — all-int64, exact
            D = (
                np.einsum("ij,ij->i", V, V)[:, None]
                - 2 * (V @ C.T)
                + c2[None, :]
            )
            j = np.argmin(D, axis=1)  # first min → lowest cluster id
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "qv": pdf["qv"],
                    "cluster": ids[j],
                    "dist": D[np.arange(len(j)), j],
                }
            )

    return q.select("vec_id", "qv").mapInPandas(
        _assign, "vec_id long, qv array<bigint>, cluster long, dist long"
    )


@register(
    "kmeans_embedding_clusters",
    oracle=_KM_SQL,
    retired=True,  # retired in the r13 swap — the full Lloyd CTE chain stays driver-gated inside semdedup_keep's oracle
    description=(
        "SemDeDup-style k-means (k=8, 2 Lloyd iterations) over quantized "
        "embeddings; deterministic seed init + floor-avg centroids, "
        "integer-exact in both engines"
    ),
)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster the embedding table; the cluster partition is the unit
    SemDeDup dedups within (cheap intra-cluster pair search replaces the
    corpus-wide one).

    Scale: per iteration, assignment is one linear scan against k broadcast
    centroids (k·dim literals, JVM-side ``zip_with``/``aggregate`` — no
    Python, no shuffle) and the centroid update is one map-side-combined
    aggregation over (cluster, dim) producing k·dim rows — the only
    driver-side state is the k×dim centroid matrix, identical to how the
    IVF coarse quantizer handles its centroids (operators/ivf.py).
    """
    return _kmeans_assignments(spark, sf_dir)


def _quantized_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    return emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * _KM_SCALE).cast("long"),
        ).alias("qv"),
    )


def _train_centroids(
    q: DataFrame, k: int, dim: int, updates: int
) -> list[tuple[int, list[int]]]:
    """Lloyd's iterations on quantized vectors: seed with the k lowest
    vec_ids, then ``updates`` rounds of assign + floor-avg centroid
    update.  Returns [(cluster_id, quantized_vector), ...] sorted by id."""
    seeds = q.orderBy("vec_id").limit(k).collect()
    # dim derives from the data (the param is only the empty-corpus
    # fallback): a mismatched geometry would otherwise zip nulls through
    # every distance and silently garble the assignment (found by the
    # golden-corpus dim-8 mock-embedding fixture).
    if seeds:
        dim = len(seeds[0]["qv"])
    centroids = [(i, list(r["qv"])) for i, r in enumerate(seeds)]
    if not centroids:  # empty corpus — no seeds, no training
        return []
    for _ in range(updates):
        # Bit-exact numpy twin (see _km_assign_np): at data-derived
        # k = ceil(sqrt(n)) the JVM form's k×dim literal + interpreted
        # n·k·dim fold dominates training wall at the 100x smoke; the twin
        # produces the identical assignment, so the trained centroids are
        # unchanged for every consumer.
        assigned = _km_assign_np(q, centroids)
        sums = (
            assigned.select("cluster", F.posexplode("qv").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        # A cluster that lost all members (possible only if two seed vectors
        # are identical) simply disappears — the same behavior as the
        # declared query's oracle, whose c1d CTE has no rows for it.
        new_c: dict[int, list[int]] = {int(r["cluster"]): [0] * dim for r in sums}
        for r in sums:
            # exact floor division (matches the oracle's floor of an exact
            # double quotient — quotients stay > 1e-4 from integers, double
            # rounding cannot cross the floor boundary)
            new_c[int(r["cluster"])][int(r["pos"])] = int(r["s"]) // int(r["n"])
        centroids = sorted((cid, vec) for cid, vec in new_c.items())
    return centroids


# Trained centroids are a deterministic artifact of (embedding bytes, k) —
# the same build-once treatment as _PQ_BOOKS_CACHE (queries/pipeline.py):
# semdedup_keep and knn_graph_incell train the SAME sqrt(n)-means over the
# same table, so the second query (and every bench iteration) reuses the
# driver-side centroid list instead of re-running the Lloyd passes.  Keyed
# on the stat-only embeddings fingerprint, so an in-process rewrite of the
# directory retrains (the r10 ADVICE rule applied from day one here).
_KM_CENTROID_CACHE: dict[tuple, list] = {}


def _kmeans_assignments(
    spark: SparkSession, sf_dir: str, k: int = _KM_K, numpy_assign: bool = False
) -> DataFrame:
    # Fixture-parallelism aid: one small single-row-group parquet file = a
    # one-task scan, which serializes the (interpreted higher-order-
    # function) assignment math.  Conditional on the scan actually being
    # under-parallel, so a multi-file corpus (and the 10x/100x smoke
    # datasets, whose flat-shuffle rows SCALE.md pins) never pays a
    # corpus-sized relayout.
    from vector_graph_rag_spark.queries.pipeline import _embeddings_fingerprint

    q = ensure_parallel_scan(_quantized_vectors(spark, sf_dir))
    key = (_embeddings_fingerprint(sf_dir), k, 1)  # (data, k, updates)
    if key not in _KM_CENTROID_CACHE:
        _KM_CENTROID_CACHE[key] = _train_centroids(q, k, _KM_DIM, updates=1)
    centroids = _KM_CENTROID_CACHE[key]
    if not centroids:  # empty corpus — no seeds, nothing to assign
        return inline_rows(spark, [], "vec_id long, cluster long, dist long")
    assign = _km_assign_np if numpy_assign else _km_assign
    return assign(q, centroids).select("vec_id", "cluster", "dist")


def _ceil_sqrt(n: int) -> int:
    """Exact integer ceil(sqrt(n)) — matches the oracle's
    CAST(ceil(sqrt(n::DOUBLE)) AS BIGINT) for every corpus-sized n (IEEE
    sqrt is correctly rounded; the nearest-integer gap at n = m²±m is
    ~1/(2m), orders of magnitude above a double ulp)."""
    import math

    r = math.isqrt(n)
    return r if r * r == n else r + 1


def train_ivf_centroids(
    spark: SparkSession, sf_dir: str, nlist: int = 8, updates: int = 2
) -> DataFrame:
    """K-means-trained coarse quantizer for the IVF index (operators/ivf.py
    consumes the returned (centroid_id, cvec) table directly).

    The in-query IVF variant seeds cells from the first nlist vectors; a
    trained quantizer spreads centroids to the data's actual density, which
    balances cell sizes — at 100 TB cell balance IS partition balance for
    the partitionBy(cell_id) index layout, so this is the difference
    between even partition pruning and a hot-cell scan.
    """
    from vector_graph_rag_spark.queries.pipeline import _embeddings_fingerprint

    q = _quantized_vectors(spark, sf_dir)
    key = (_embeddings_fingerprint(sf_dir), nlist, updates)
    if key not in _KM_CENTROID_CACHE:
        _KM_CENTROID_CACHE[key] = _train_centroids(q, nlist, _KM_DIM, updates=updates)
    cents = _KM_CENTROID_CACHE[key]
    rows = [(cid, [v / _KM_SCALE for v in vec]) for cid, vec in cents]

    return inline_rows(spark, rows, "centroid_id int, cvec array<double>")


def semdedup_keep_list(
    spark: SparkSession, sf_dir: str, threshold: float = 0.95
) -> DataFrame:
    """SemDeDup proper (Abbas et al. 2023): cluster, then drop all but one
    representative from every intra-cluster near-duplicate pair.

    Returns ``(vec_id, cluster, keep)`` — ``keep`` is false iff the vector
    has cosine ≥ threshold with a LOWER-id vector in the same cluster (the
    deterministic keep-lowest-id rule; the paper keeps one arbitrary member
    per semantic-dup group).

    Scale: the whole point of clustering first is that the pair search is
    intra-cluster only — the self-join equi-joins on cluster id, so pair
    volume is Σ|cluster|² instead of n²; at 100 TB k grows with the corpus
    (k ≈ √n keeps clusters √n-sized) and the same plan holds.  Cosine is a
    JVM ``zip_with``/``aggregate`` dot product (embeddings are L2-normalized
    upstream; no Python).

    Library composite (not a registry slot): the clustering stage is the
    oracle-checked ``kmeans_embedding_clusters``; this adds the keep rule,
    pinned against a pure-numpy twin in ``tests/test_curation_kernels.py``.
    """
    from vector_graph_rag_spark.functions.vector import cosine

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    assigned = _kmeans_assignments(spark, sf_dir).select("vec_id", "cluster")
    v = assigned.join(emb.select("vec_id", "embedding"), "vec_id")
    a = v.select(
        F.col("cluster"),
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
    )
    b = v.select(
        F.col("cluster"),
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
    )
    dup_pairs = (
        a.join(b, "cluster")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(cosine("a_emb", "b_emb") >= F.lit(threshold))
    )
    doomed = dup_pairs.select(F.col("b_id").alias("vec_id")).distinct()
    return assigned.join(
        doomed.withColumn("dup", F.lit(True)), "vec_id", "left"
    ).select("vec_id", "cluster", F.col("dup").isNull().alias("keep"))


# --- SemDeDup as a registry slot (staged r13) ---------------------------------

_SEMDEDUP_THRESHOLD = 0.40  # synthetic embeddings have no true near-dups (max intra-cluster cosine ~0.5-0.6); 0.40 dooms the top ~0.1% of pairs at every SF so the gate exercises BOTH keep outcomes

_SEMDEDUP_SQL = f"""
WITH {_KM_CTES_SQRT_K},
assigned AS (
  SELECT vec_id, cluster FROM d2
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1
),
ve AS (
  SELECT a.vec_id, a.cluster, e.embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) AS nrm
  FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id
),
doomed AS (
  SELECT DISTINCT b.vec_id
  FROM ve a JOIN ve b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE round(CASE WHEN a.nrm = 0.0 OR b.nrm = 0.0 THEN 0.0
                   ELSE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) END, 6)
        >= {_SEMDEDUP_THRESHOLD}
)
SELECT a.vec_id, a.cluster, (d.vec_id IS NULL) AS keep
FROM assigned a LEFT JOIN doomed d ON d.vec_id = a.vec_id
"""


@register(
    "semdedup_keep",
    oracle=_SEMDEDUP_SQL,
    # ACTIVE since the r13 swap (staged retired=True through r12)
    description=(
        "SemDeDup (Abbas et al. 2023): k-means cluster the embeddings, "
        "then within each cluster drop every vector whose round-6 cosine "
        "to a LOWER-id cluster-mate reaches the threshold — keep-lowest-id "
        "semantic dedup, the embedding-space sibling of the MinHash family"
    ),
)
def semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry twin of :func:`semdedup_keep_list` with the boundary made
    engine-exact (round-6 cosine vs the threshold, the range_search_radius
    convention) so the whole pipeline — Lloyd training, assignment, pair
    search, keep rule — sits under one DuckDB hash gate.

    Scale: k is DATA-DERIVED — ceil(sqrt(n)), computed identically in both
    engines — so cluster occupancy stays ~√n and the intra-cluster pair
    volume is ~n^1.5, never n² (the fixed-k=8 draft grew 24x at 10x; that
    counterexample is pinned in SCALE.md).  The pair search itself is one
    Arrow-batched ``applyInPandas`` kernel per cluster (the knn_graph
    shape): a block-wise gram matrix marks every vector with a round-6
    cosine >= threshold to a LOWER-id cluster-mate and the kernel emits
    the (vec_id, cluster, keep) rows DIRECTLY — no pair frame, no doomed
    distinct, no join-back; the only corpus exchange is the cluster-key
    shuffle.  Assignment rides the bit-exact numpy twin of the Lloyd
    argmin (_km_assign_np).  SemDeDup's semantics need the FULL
    intra-cluster pair set, so unlike the kNN graph there is no
    occupancy sub-split — the gram matrix is computed in 1024-row blocks
    to bound kernel memory at huge-cluster scale instead."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    k = _ceil_sqrt(emb.count())
    v = _kmeans_assignments(spark, sf_dir, k=k, numpy_assign=True).select(
        "vec_id", "cluster"
    ).join(emb.select("vec_id", "embedding"), "vec_id")
    thr = _SEMDEDUP_THRESHOLD

    def _keep(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        ids = pdf["vec_id"].to_numpy()
        cluster = pdf["cluster"].to_numpy()
        if m < 2:
            return pd.DataFrame(
                {"vec_id": ids, "cluster": cluster, "keep": [True] * m}
            )
        V = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
        nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
        doomed = np.zeros(m, dtype=bool)
        for lo in range(0, m, 1024):  # block rows to bound the gram slab
            hi = min(lo + 1024, m)
            denom = np.outer(nrm[lo:hi], nrm)
            S = np.divide(
                V[lo:hi] @ V.T, denom, out=np.zeros((hi - lo, m)), where=denom != 0
            )
            hit = np.round(S, 6) >= thr
            lower = ids[None, :] < ids[lo:hi, None]  # mate has the LOWER id
            doomed[lo:hi] |= (hit & lower).any(axis=1)
        return pd.DataFrame({"vec_id": ids, "cluster": cluster, "keep": ~doomed})

    return v.groupBy("cluster").applyInPandas(
        _keep, "vec_id long, cluster long, keep boolean"
    )


# --- in-cell kNN graph construction (staged r13) ------------------------------

_KNN_GRAPH_K = 5

# Occupancy cap: a cell whose occupancy exceeds _KNN_CELL_CAP is split into
# ceil(occ / CAP) hash sub-cells and the neighbor search runs within a
# (cell, sub) pair — per-vector candidate volume is bounded by ~CAP, so
# total pair volume is <= n*CAP (LINEAR in the corpus) instead of the raw
# in-cell n^1.5 (measured 4.5x wall at the 10x smoke, r11 verdict item 2).
# The split is a deterministic seeded hash of vec_id, identical in both
# engines, and ceil(occ/CAP) = 1 leaves small cells untouched — at the
# driver-gated scales (occupancy ~sqrt(n) < CAP) results are bit-identical
# to the uncapped build.  Same family as the dedup hot-bucket cap
# (queries/dedup.py) — approximate-by-construction at scale, documented.
_KNN_CELL_CAP = 64

# Norms are precomputed per vector in BOTH engines (nrm = sqrt(dot(v,v)));
# the pair score divides one dot by the product of two stored norms — the
# same IEEE operations in the same order as the inline cosine, at a third
# of the per-pair work.  The CTE chain is shared with the staged
# knn_graph_mutual, which adds a symmetry self-join on the ranked edges.
_KNN_GRAPH_CTES = f"""{_KM_CTES_SQRT_K},
assigned AS (
  SELECT vec_id, cluster AS cell_id FROM d2
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1
),
cocc AS (
  SELECT cell_id, (COUNT(*) + {_KNN_CELL_CAP - 1}) // {_KNN_CELL_CAP} AS n_sub
  FROM assigned GROUP BY cell_id
),
ve AS (
  SELECT a.vec_id, a.cell_id,
         ({seeded_hash60_sql('CAST(a.vec_id AS VARCHAR)', 0)}) % c.n_sub AS sub_id,
         e.embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) AS nrm
  FROM assigned a
  JOIN cocc c ON c.cell_id = a.cell_id
  JOIN embeddings e ON e.vec_id = a.vec_id
),
pairs AS (
  SELECT a.vec_id, b.vec_id AS nbr_id,
         round(CASE WHEN a.nrm = 0.0 OR b.nrm = 0.0 THEN 0.0
                    ELSE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END, 6) AS score
  FROM ve a JOIN ve b ON a.cell_id = b.cell_id AND a.sub_id = b.sub_id
                     AND a.vec_id <> b.vec_id
),
knn AS (
  SELECT vec_id, nbr_id, score, CAST(rk AS INT) AS rank FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY score DESC, nbr_id ASC
    ) AS rk FROM pairs
  ) WHERE rk <= {_KNN_GRAPH_K}
)"""

_KNN_GRAPH_SQL = f"""
WITH {_KNN_GRAPH_CTES}
SELECT vec_id, nbr_id, score, rank FROM knn
"""


@register(
    "knn_graph_incell",
    oracle=_KNN_GRAPH_SQL,
    # ACTIVE since the r13 swap (staged retired=True through r12)
    description=(
        "in-cell k-NN graph construction (k=5): every vector's top-k "
        "cosine neighbors WITHIN its k-means cell (data-derived "
        "nlist=ceil(sqrt(n)), cells above 64 occupancy hash-split to "
        "capped sub-cells) — the building block for graph-based ANN, "
        "SemDeDup-family semantic dedup, and dataset cartography; "
        "pair volume <= n*cap, linear, never the n² all-pairs"
    ),
)
def knn_graph_incell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph the way a 100 TB pipeline can afford it: vectors join
    their ~√n-sized k-means cell (the SAME data-derived-k Lloyd assignment
    semdedup_keep dedups within — balanced cells, unlike raw seed-vector
    centroids, whose skew measured 2x slower here), and the neighbor
    search runs WITHIN a (cell_id, sub_id) group, where sub_id hash-splits
    any cell above _KNN_CELL_CAP occupancy into ceil(occ/CAP) sub-cells —
    per-vector candidate volume is ~CAP-bounded, so pair volume is <=
    n*CAP, linear in the corpus (the raw in-cell join's ~n^1.5 measured
    4.5x wall at the 10x smoke).  Small cells get n_sub=1 and are
    untouched.  The group-local search itself is an Arrow-batched
    ``applyInPandas`` kernel (the sanctioned pandas scale path): one
    CAP²-bounded numpy gram matrix per group emits
    each member's top-k directly, so the corpus-sized pair frame and its
    rank window never materialize — the only corpus exchange is the
    group-key shuffle of n rows.  Scores are dot/(nrm_a*nrm_b) rounded to
    6, the oracle's exact arithmetic; the oracle replays assignment +
    sub-split + pair search declaratively, so the hash gate pins the full
    construction.  (Past ~10^10 vectors the flat √n centroid literal
    outgrows a broadcast — the two-level quantizer split in
    operators/ivf.py is the documented escalation.)"""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    k = _ceil_sqrt(emb.count())
    assigned = (
        _kmeans_assignments(spark, sf_dir, k=k, numpy_assign=True)
        .select("vec_id", F.col("cluster").alias("cell_id"))
        # lazy (r17): first consuming action materializes it; all later
        # consumers read the cache — one fewer job, same single execution
        .localCheckpoint(eager=False)
    )
    # ceil(occ / CAP) sub-splits per cell; the split table is cell-count
    # sized (~sqrt(n) rows) — broadcast, never a corpus shuffle.
    splits = assigned.groupBy("cell_id").agg(
        F.floor(
            (F.count(F.lit(1)) + F.lit(_KNN_CELL_CAP - 1)) / F.lit(_KNN_CELL_CAP)
        ).alias("n_sub")
    )
    v = (
        assigned.join(F.broadcast(splits), "cell_id")
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .select(
            "cell_id",
            (
                seeded_hash60(F.col("vec_id").cast("string"), 0) % F.col("n_sub")
            ).alias("sub_id"),
            "vec_id",
            "embedding",
        )
    )
    return v.groupBy("cell_id", "sub_id").applyInPandas(
        _knn_group_kernel(_KNN_GRAPH_K),
        "vec_id long, nbr_id long, score double, rank int",
    )


def _knn_group_kernel(topk: int):
    """The per-(cell, sub) gram-matrix kernel behind knn_graph_incell:
    float64 gram, outer-norm divide with the zero-norm → 0.0 guard (the
    oracle's CASE), round-6, score-desc/id-asc ties, top-``topk``.
    Module-level factory so tests pin its edge cases directly
    (tests/test_curation_kernels.py::test_knn_group_kernel_zero_norm...)."""
    import numpy as np
    import pandas as pd

    def _group_knn(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {"vec_id": [], "nbr_id": [], "score": [], "rank": []}
            ).astype({"vec_id": "int64", "nbr_id": "int64", "score": "float64", "rank": "int32"})
        ids = pdf["vec_id"].to_numpy()
        V = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
        nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
        denom = np.outer(nrm, nrm)
        S = np.divide(V @ V.T, denom, out=np.zeros((m, m)), where=denom != 0)
        S = np.round(S, 6)
        out_v, out_n, out_s, out_r = [], [], [], []
        for i in range(m):
            s = S[i].copy()
            s[i] = -np.inf  # self excluded
            order = np.lexsort((ids, -s))
            order = order[order != i][: min(topk, m - 1)]
            kk = len(order)
            out_v.extend([ids[i]] * kk)
            out_n.extend(ids[order])
            out_s.extend(s[order])
            out_r.extend(range(1, kk + 1))
        return pd.DataFrame(
            {"vec_id": out_v, "nbr_id": out_n, "score": out_s, "rank": out_r}
        ).astype({"vec_id": "int64", "nbr_id": "int64", "score": "float64", "rank": "int32"})

    return _group_knn


# --- mutual-kNN graph (staged r14) --------------------------------------------

_KNN_MUTUAL_SQL = f"""
WITH {_KNN_GRAPH_CTES}
SELECT a.vec_id AS vec_a, a.nbr_id AS vec_b, a.score
FROM knn a JOIN knn b ON b.vec_id = a.nbr_id AND b.nbr_id = a.vec_id
WHERE a.vec_id < a.nbr_id
"""


@register(
    "knn_graph_mutual",
    oracle=_KNN_MUTUAL_SQL,
    # ACTIVE since the r14 swap (staged retired=True through r13)
    description=(
        "mutual-kNN graph: undirected edges (a, b) where EACH is in the "
        "other's in-cell top-5 — the symmetrized graph density-based "
        "clustering and outlier detection consume (a one-directional "
        "edge to an outlier never survives the mutuality test)"
    ),
)
def knn_graph_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrization over the ranked edge list, not the corpus: the kNN
    frame is n x k rows, localCheckpointed once, and the mutuality test is
    an equi-self-join on the (nbr_id, vec_id) reversal — every input here
    is k-bounded per vector, so the whole operator is O(n·k) regardless of
    cell sizes.  Training/assignment rides the shared sqrt(n)-means
    centroid cache with knn_graph_incell / semdedup_keep.  The score
    column is kept from the a-side edge; the b-side score is the SAME
    cosine by symmetry (pinned by the oracle, which makes no such
    shortcut)."""
    # lazy (r17): both the a-side and the left-semi b-side live in the one
    # returned DAG — the kNN kernel runs once into the cache with no
    # dedicated materialization job ahead of the action
    knn = knn_graph_incell(spark, sf_dir).localCheckpoint(eager=False)
    a = knn.select(
        F.col("vec_id").alias("vec_a"),
        F.col("nbr_id").alias("vec_b"),
        "score",
    )
    b = knn.select(
        F.col("nbr_id").alias("vec_a"), F.col("vec_id").alias("vec_b")
    )
    return (
        a.join(b, ["vec_a", "vec_b"], "left_semi")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "score")
    )


# --- cluster-capped subsampling (staged r16) ----------------------------------

# DataComp/SemDeDup-style cluster balancing: huge clusters are dominated by
# redundant content, so keep at most CAP representatives per k-means
# cluster, chosen by a deterministic hash order (a stable "random" sample:
# the same corpus always yields the same sample, and the choice is
# uncorrelated with vec_id assignment order).
_CSAMPLE_CAP = 8

_CSAMPLE_SQL = f"""
WITH {_KM_CTES_SQRT_K},
assigned AS (
  SELECT vec_id, cluster FROM d2
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1
),
ranked AS (
  SELECT cluster, vec_id,
         CAST(row_number() OVER (
           PARTITION BY cluster
           ORDER BY {seeded_hash60_sql('CAST(vec_id AS VARCHAR)', 1)}, vec_id
         ) AS INT) AS sample_rank
  FROM assigned
)
SELECT cluster, vec_id, sample_rank FROM ranked WHERE sample_rank <= {_CSAMPLE_CAP}
"""


@register(
    "cluster_capped_sample",
    oracle=_CSAMPLE_SQL,
    # ACTIVE since the r16 swap (staged retired=True through r15)
    description=(
        "cluster-balanced subsampling (DataComp/SemDeDup recipe): at most "
        "8 representatives per data-derived sqrt(n)-means cluster, chosen "
        "by deterministic hash order — caps any cluster's contribution to "
        "the training mix regardless of how redundant it is"
    ),
)
def cluster_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware balancing at 100 TB: the rank window partitions by
    cluster over (hash, vec_id) — k-bounded output (<= k*CAP rows kept),
    WindowGroupLimit cuts each partition at CAP before the filter, and
    the assignment rides the shared sqrt(n)-means cache + bit-exact numpy
    argmin the whole clustering family uses.  The hash order makes the
    sample stable under any corpus re-partitioning (pinned by the
    determinism battery) and independent of ingestion order — the
    property an id-order sample lacks when ids encode crawl time."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    k = _ceil_sqrt(emb.count())
    assigned = _kmeans_assignments(spark, sf_dir, k=k, numpy_assign=True).select(
        "vec_id", "cluster"
    )
    w = Window.partitionBy("cluster").orderBy(
        seeded_hash60(F.col("vec_id").cast("string"), 1), F.asc("vec_id")
    )
    return (
        assigned.withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= _CSAMPLE_CAP)
        .select("cluster", "vec_id", "sample_rank")
    )

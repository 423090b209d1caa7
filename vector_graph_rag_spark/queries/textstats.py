"""Text-analysis operator queries (north-star training-data-pipeline ops).

Language-ID (function-word heuristic), quality scoring (length / punctuation
/ stopword ratios), token counting (whitespace + BPE-ish regex), and
document fingerprinting (winnowing over rolling shingle hashes).  All
JVM-side built-ins — the hot path has zero Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.hashing import hash60, hash60_sql
from vector_graph_rag_spark.functions.literals import inline_rows
from vector_graph_rag_spark.functions.text import tokens
from vector_graph_rag_spark.queries import register
from vector_graph_rag_spark.queries.dedup import _SHINGLES_CTE
from vector_graph_rag_spark.queries.sql_common import norm_sql
from vector_graph_rag_spark.sources.tables import load_table

# BPE-ish token pattern: letter runs, digit runs, single non-space symbols.
_BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

# --- token / length profile -------------------------------------------------

_PROFILE_SQL = f"""
SELECT doc_id,
       length(text) AS n_chars,
       CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT) AS n_punct,
       round(CAST(length(text) AS DOUBLE) /
             NULLIF(len(list_filter(string_split(text, ' '), t -> t <> '')), 0), 6) AS chars_per_token
FROM documents
"""


# The quality gates count chars matching [^A-Za-z0-9 ].  Implemented as a
# translate() char-map DELETE of the 63 allowed chars (what survives is the
# punct count) instead of regexp_count: identical per-code-point value, but
# a table lookup instead of the java.util.regex engine — which measured as
# 1.95s of curriculum_order's 2.10s 10x scan, i.e. ~the entire cost of every
# quality-gate pass (SCALE.md §Round-13 punct-count fix).  The DuckDB
# oracles keep the regexp_extract_all spelling; the hash gates pin equality.
_ALLOWED_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789 "
)


def n_punct_chars(col: str | Column) -> Column:
    """count of chars matching [^A-Za-z0-9 ], regex-free."""
    return F.length(F.translate(col, _ALLOWED_CHARS, ""))


@register(
    "token_profile",
    oracle=_PROFILE_SQL,
    retired=True,  # r16 swap: quality-signal sibling curriculum_order activates (curriculum sort key derives from the same quality gates); token-stats kernel stays driver-gated via quality_score + textstats unit battery; r14-green
    description="token counting: whitespace + BPE-ish regex",
)
def token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens("text")).cast("bigint")
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.regexp_count("text", F.lit(_BPE_PATTERN)).cast("bigint").alias("n_bpe_tokens"),
        n_punct_chars("text").cast("bigint").alias("n_punct"),
        F.round(
            F.length("text").cast("double") / F.nullif(n_tokens, F.lit(0)), 6
        ).alias("chars_per_token"),
    )


# --- quality score ----------------------------------------------------------

_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]
_STOP_SQL_LIST = ", ".join(repr(s) for s in _STOPWORDS)

_QUALITY_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tok_stats AS (
  SELECT doc_id,
         COUNT(*) FILTER (WHERE tok <> '') AS n_tokens,
         COUNT(*) FILTER (WHERE tok IN ({_STOP_SQL_LIST})) AS n_stop
  FROM toks GROUP BY doc_id
)
SELECT d.doc_id,
       round(CAST(t.n_stop AS DOUBLE) / NULLIF(t.n_tokens, 0), 6) AS stopword_ratio,
       round(CAST(len(regexp_extract_all(d.text, '[^A-Za-z0-9 ]')) AS DOUBLE)
             / NULLIF(length(d.text), 0), 6) AS punct_ratio,
       CASE WHEN t.n_tokens >= 20
             AND CAST(t.n_stop AS DOUBLE) / NULLIF(t.n_tokens, 0) >= 0.01
             AND CAST(len(regexp_extract_all(d.text, '[^A-Za-z0-9 ]')) AS DOUBLE)
                 / NULLIF(length(d.text), 0) <= 0.2
            THEN 1 ELSE 0 END AS passes_quality
FROM documents d JOIN tok_stats t ON d.doc_id = t.doc_id
"""


@register("quality_score", oracle=_QUALITY_SQL, description="quality gates: stopword/punct ratios + length")
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(_STOPWORDS)))
    stop_ratio = F.round(n_stop.cast("double") / F.nullif(n_tokens, F.lit(0)), 6)
    punct_ratio = F.round(
        n_punct_chars("text").cast("double")
        / F.nullif(F.length("text"), F.lit(0)),
        6,
    )
    passes = (
        F.when(
            (n_tokens >= 20)
            & (n_stop.cast("double") / F.nullif(n_tokens, F.lit(0)) >= 0.01)
            & (
                n_punct_chars("text").cast("double")
                / F.nullif(F.length("text"), F.lit(0))
                <= 0.2
            ),
            1,
        )
        .otherwise(0)
        .cast("int")
    )
    return d.select(
        "doc_id",
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        passes.alias("passes_quality"),
    )


# --- language ID (function-word heuristic) ----------------------------------

# (lang, priority, words) — tiny characteristic function-word lexicons.
_LEXICON = [
    ("en", 0, ["the", "a", "of", "and"]),
    ("de", 1, ["der", "die", "das", "und"]),
    ("es", 2, ["el", "la", "los", "que"]),
    ("fr", 3, ["le", "les", "des", "et"]),
    ("zh", 4, ["de", "shi", "le", "bu"]),
]

_LEX_VALUES = ", ".join(
    f"('{lang}', {pri}, '{w}')" for lang, pri, words in _LEXICON for w in words
)

_LANGID_SQL = f"""
WITH lex(lang, pri, word) AS (VALUES {_LEX_VALUES}),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
hits AS (
  SELECT t.doc_id, l.lang, l.pri, COUNT(*) AS n_hits
  FROM toks t JOIN lex l ON t.tok = l.word
  GROUP BY t.doc_id, l.lang, l.pri
),
ranked AS (
  SELECT doc_id, lang, n_hits,
         row_number() OVER (PARTITION BY doc_id ORDER BY n_hits DESC, pri ASC) AS rk
  FROM hits
)
SELECT d.doc_id, COALESCE(r.lang, 'und') AS predicted_lang,
       COALESCE(r.n_hits, 0) AS n_hits
FROM documents d LEFT JOIN ranked r ON d.doc_id = r.doc_id AND r.rk = 1
"""


@register("lang_id_heuristic", oracle=_LANGID_SQL, description="function-word language-ID heuristic")
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    lex = inline_rows(
        spark,
        [(lang, pri, w) for lang, pri, words in _LEXICON for w in words],
        "lang string, pri int, word string",
    )
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    hits = (
        toks.join(F.broadcast(lex), toks.tok == lex.word)
        .groupBy("doc_id", "lang", "pri")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("n_hits"), F.asc("pri"))
    best = hits.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return d.select("doc_id").join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce("lang", F.lit("und")).alias("predicted_lang"),
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
    )


# --- winnowing fingerprints (rolling-hash document fingerprinting) ----------

_WINNOW_SQL = f"""
WITH {_SHINGLES_CTE},
hashed AS (
  SELECT doc_id, pos, {hash60_sql('shingle')} AS h FROM shingles
),
winmin AS (
  SELECT doc_id,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM hashed
)
SELECT DISTINCT doc_id, fp FROM winmin
"""


@register("winnow_fingerprints", oracle=_WINNOW_SQL, description="winnowing: min rolling shingle-hash per window of 4")
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fingerprinting is doc-local, so the whole pipeline stays inside one
    # row as JVM array expressions — ZERO shuffles (vs. the naive
    # explode → window-by-doc → global-distinct plan, which shuffles twice).
    # The rolling min over windows of 4 and the per-doc dedup both happen on
    # the in-row hashed-shingle array; only the final explode emits rows.
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("toks"))
    hashed = F.expr(
        "transform(sequence(0, size(toks) - 3),"
        " i -> cast(conv(substring(md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2])), 1, 15), 16, 10) as bigint))"
    )
    return (
        t.filter(F.size("toks") >= 3)
        .select("doc_id", hashed.alias("h"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(0, size(h) - 1),"
                        " j -> array_min(slice(h, j + 1, 4)))"
                    )
                )
            ).alias("fp"),
        )
    )


# --- corpus curation funnel (end-to-end pretraining-data gate) --------------
#
# The composite a pretraining-data pipeline runs nightly: raw corpus →
# language filter → quality gate → exact-dedup keeper → train split, with
# per-stage surviving-document counts (the curation funnel report).  The
# first three stages reuse the exact kernel of their standalone queries
# (lang_id_heuristic, quality_score, dedup_exact); the split is an 80/20
# ``hash60 % 100`` cut.  They compose as per-doc flag columns joined on
# doc_id — co-partitioned joins, one wide flag row
# per document, one final single-row aggregate unpivoted with stack().
# At 100 TB every stage is a per-row expression except lang hits (broadcast
# lexicon join) and the dedup keeper (one groupBy on the text hash).

_FUNNEL_SQL = f"""
WITH lex(lang, pri, word) AS (VALUES {_LEX_VALUES}),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
hits AS (
  SELECT t.doc_id, l.lang, l.pri, COUNT(*) AS n_hits
  FROM toks t JOIN lex l ON t.tok = l.word
  GROUP BY t.doc_id, l.lang, l.pri
),
ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY doc_id ORDER BY n_hits DESC, pri ASC) AS rk
  FROM hits
),
tok_stats AS (
  SELECT doc_id,
         COUNT(*) FILTER (WHERE tok <> '') AS n_tokens,
         COUNT(*) FILTER (WHERE tok IN ({_STOP_SQL_LIST})) AS n_stop
  FROM toks GROUP BY doc_id
),
keyed AS (
  SELECT doc_id, md5({norm_sql('text')}) AS text_key FROM documents
),
keepers AS (
  SELECT text_key, MIN(doc_id) AS keeper_doc_id FROM keyed GROUP BY text_key
),
flags AS (
  SELECT d.doc_id,
         COALESCE(r.lang, 'und') = 'en' AS is_en,
         (t.n_tokens >= 20
          AND CAST(t.n_stop AS DOUBLE) / NULLIF(t.n_tokens, 0) >= 0.01
          AND CAST(len(regexp_extract_all(d.text, '[^A-Za-z0-9 ]')) AS DOUBLE)
              / NULLIF(length(d.text), 0) <= 0.2) AS ok_quality,
         kk.keeper_doc_id = d.doc_id AS is_keeper,
         ({hash60_sql("concat('split:', CAST(d.doc_id AS VARCHAR))")} % 100) < 80 AS is_train
  FROM documents d
  LEFT JOIN (SELECT * FROM ranked WHERE rk = 1) r ON r.doc_id = d.doc_id
  JOIN tok_stats t ON t.doc_id = d.doc_id
  JOIN keyed k ON k.doc_id = d.doc_id
  JOIN keepers kk ON kk.text_key = k.text_key
)
SELECT 0 AS stage_idx, 'raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs FROM flags
UNION ALL
SELECT 1, 'lang_en', CAST(COUNT(*) AS BIGINT) FROM flags WHERE is_en
UNION ALL
SELECT 2, 'quality', CAST(COUNT(*) AS BIGINT) FROM flags WHERE is_en AND ok_quality
UNION ALL
SELECT 3, 'dedup_keeper', CAST(COUNT(*) AS BIGINT) FROM flags
  WHERE is_en AND ok_quality AND is_keeper
UNION ALL
SELECT 4, 'train_split', CAST(COUNT(*) AS BIGINT) FROM flags
  WHERE is_en AND ok_quality AND is_keeper AND is_train
"""


@register(
    "corpus_curation_funnel",
    oracle=_FUNNEL_SQL,
    description=(
        "pretraining-data curation funnel: raw -> lang_en -> quality gate -> "
        "exact-dedup keeper -> train split, per-stage surviving counts "
        "(composes the lang_id/quality/dedup/split kernels in one DataFrame)"
    ),
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.functions.text import normalize_phrase

    d = load_table(spark, sf_dir, "documents")

    # lang flag (lang_id_heuristic kernel)
    lex = inline_rows(
        spark,
        [(lang, pri, w) for lang, pri, words in _LEXICON for w in words],
        "lang string, pri int, word string",
    )
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    hits = (
        toks.join(F.broadcast(lex), toks.tok == lex.word)
        .groupBy("doc_id", "lang", "pri")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("n_hits"), F.asc("pri"))
    best = (
        hits.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "lang")
    )

    # quality flag (quality_score kernel)
    tk = tokens("text")
    n_tokens = F.size(tk)
    n_stop = F.size(F.filter(tk, lambda t: t.isin(_STOPWORDS)))
    ok_quality = (
        (n_tokens >= 20)
        & (n_stop.cast("double") / F.nullif(n_tokens, F.lit(0)) >= 0.01)
        & (
            n_punct_chars("text").cast("double")
            / F.nullif(F.length("text"), F.lit(0))
            <= 0.2
        )
    )

    # dedup-keeper flag (dedup_exact kernel) + split flag (split kernel)
    keyed = d.select(
        "doc_id",
        "text",
        F.md5(normalize_phrase("text")).alias("text_key"),
        ok_quality.alias("ok_quality"),
        (
            hash60(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100 < 80
        ).alias("is_train"),
    )
    keepers = keyed.groupBy("text_key").agg(F.min("doc_id").alias("keeper_doc_id"))

    flags = (
        keyed.join(keepers, "text_key")
        .join(best, "doc_id", "left")
        .select(
            (F.coalesce("lang", F.lit("und")) == "en").alias("is_en"),
            "ok_quality",
            (F.col("keeper_doc_id") == F.col("doc_id")).alias("is_keeper"),
            "is_train",
        )
    )
    one = F.lit(1)
    agg = flags.agg(
        F.count(one).alias("n0"),
        F.sum(F.when(F.col("is_en"), one).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("is_en") & F.col("ok_quality"), one).otherwise(0)).alias("n2"),
        F.sum(
            F.when(F.col("is_en") & F.col("ok_quality") & F.col("is_keeper"), one).otherwise(0)
        ).alias("n3"),
        F.sum(
            F.when(
                F.col("is_en") & F.col("ok_quality") & F.col("is_keeper") & F.col("is_train"),
                one,
            ).otherwise(0)
        ).alias("n4"),
    )
    return agg.select(
        F.expr(
            "stack(5,"
            " 0, 'raw', n0,"
            " 1, 'lang_en', n1,"
            " 2, 'quality', n2,"
            " 3, 'dedup_keeper', n3,"
            " 4, 'train_split', n4) AS (stage_idx, stage, n_docs)"
        )
    ).select(F.col("stage_idx").cast("int"), "stage", F.col("n_docs").cast("bigint"))


# --- curriculum ordering (staged r16) ----------------------------------------

# Quality-first curriculum with a deterministic in-phase shuffle: phase 1 =
# clean long documents (passes the quality gates AND >= 40 tokens), phase 2
# = clean short, phase 3 = everything else; within a phase, order by
# hash60(doc_id) — a stable pseudo-random shuffle, uncorrelated with crawl
# order (which doc_id encodes), reproducible across runs and engines.
#
# r13 fix (r12 verdict, Next #3): the REGISTERED query emits the SORT KEY
# — (phase, sort_key=hash60(doc_id)) — not materialized per-phase ordinals.
# The training order is "rank rows by (phase, sort_key, doc_id)"; consumers
# (pack_sequences(order_col=...), write_training_shards) range-partition on
# that key, so no engine ever runs the corpus-sized 3-partition ORDER BY
# window the ordinal form needs (2.85x at the 10x smoke, SCALE.md).  The
# ordinal form survives as the non-registered `curriculum_order_ordinals`
# bridge, and tests/test_curation_kernels.py pins that sorting the
# registered output by (phase, sort_key, doc_id) reproduces its ordinals
# exactly.

_CURR_LONG_TOKENS = 40

_CURRICULUM_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tok_stats AS (
  SELECT doc_id,
         COUNT(*) FILTER (WHERE tok <> '') AS n_tokens,
         COUNT(*) FILTER (WHERE tok IN ({_STOP_SQL_LIST})) AS n_stop
  FROM toks GROUP BY doc_id
),
gated AS (
  SELECT d.doc_id, t.n_tokens,
         CASE WHEN t.n_tokens >= 20
               AND CAST(t.n_stop AS DOUBLE) / NULLIF(t.n_tokens, 0) >= 0.01
               AND CAST(len(regexp_extract_all(d.text, '[^A-Za-z0-9 ]')) AS DOUBLE)
                   / NULLIF(length(d.text), 0) <= 0.2
              THEN 1 ELSE 0 END AS passes
  FROM documents d JOIN tok_stats t ON d.doc_id = t.doc_id
)
SELECT CASE WHEN passes = 1 AND n_tokens >= {_CURR_LONG_TOKENS} THEN 1
            WHEN passes = 1 THEN 2
            ELSE 3 END AS phase,
       {hash60_sql('CAST(doc_id AS VARCHAR)')} AS sort_key,
       doc_id, n_tokens
FROM gated
"""


def _curriculum_phased(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, phase, sort_key) — one linear scan, zero shuffles:
    phase is a row-local CASE over the same token stats quality_score
    derives, sort_key the deterministic in-phase shuffle hash."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tokens = F.size(toks).cast("bigint")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(_STOPWORDS)))
    passes = (
        (n_tokens >= 20)
        & (n_stop.cast("double") / F.nullif(n_tokens, F.lit(0)) >= 0.01)
        & (
            n_punct_chars("text").cast("double")
            / F.nullif(F.length("text"), F.lit(0))
            <= 0.2
        )
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.when(passes & (n_tokens >= _CURR_LONG_TOKENS), F.lit(1))
        .when(passes, F.lit(2))
        .otherwise(F.lit(3))
        .alias("phase"),
        hash60(F.col("doc_id").cast("string")).alias("sort_key"),
    )


@register(
    "curriculum_order",
    oracle=_CURRICULUM_SQL,
    # ACTIVE since the r16 swap (staged retired=True through r15)
    description=(
        "quality-first training curriculum: clean-long -> clean-short -> "
        "rest phases (the quality_score gates), deterministic hash "
        "shuffle within each phase emitted as a SORT KEY — the "
        "reproducible training-order plan a data pipeline hands the "
        "shard writer (range-partitioned write, no corpus-wide window)"
    ),
)
def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape of curriculum ordering: phase assignment is a
    row-local CASE over map-side-combined token stats, and the training
    order is the SORT KEY (phase, sort_key, doc_id) — handed to
    ``pack_sequences(order_col=phase*2^61 + sort_key)`` /
    ``write_training_shards`` which range-partition the write.  No engine
    materializes per-phase ordinals: that form needs a corpus-sized
    ORDER BY window with exactly 3 partitions (measured 2.85x at the 10x
    smoke before the r13 fix) and lives on only as the
    :func:`curriculum_order_ordinals` bridge for tests that want explicit
    positions."""
    return _curriculum_phased(spark, sf_dir).select(
        "phase", "sort_key", "doc_id", "n_tokens"
    )


def curriculum_order_ordinals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordinal-window twin (NOT registered, NOT the deployment shape):
    materializes ord_in_phase via a per-phase rank window — 3 window
    partitions regardless of corpus size, i.e. a corpus-sized sort per
    phase.  Kept as the bridge that proves the registered sort-key output
    linearizes to the same sequence (tests/test_curation_kernels.py
    ``test_curriculum_sort_key_matches_ordinals``)."""
    w = Window.partitionBy("phase").orderBy(F.asc("sort_key"), F.asc("doc_id"))
    return _curriculum_phased(spark, sf_dir).select(
        "phase",
        F.row_number().over(w).cast("int").alias("ord_in_phase"),
        "doc_id",
        "n_tokens",
    )

"""Ranked keyword retrieval.

``bm25_keyword_topk`` adds the classic lexical-retrieval twin of the vector
top-k operators (SURVEY §2 #22-25): the reference retrieves passages only by
embedding similarity, but a production RAG corpus pipeline needs a keyword
(BM25) path for hybrid retrieval.  Scoring uses the standard BM25 tf
saturation (k1=1.2, b=0.75) with a *log-free rational idf*
``(N - df + 0.5) / (df + 0.5)`` — monotone in df exactly like the classic
``ln``-idf (so per-term rankings are identical), but reproducible bit-for-bit
across engines (ln() differs in last-ulp between libm implementations).
Per-term scores are rounded to 6 decimals and summed as DECIMAL so the final
score is addition-order-independent — safe under Spark's unordered shuffles.

Scale: df/dl/avgdl are one shuffle each over the token table; the query-term
side is a broadcast (queries are small); top-k per query is the usual
window + row_number — the same plan shape as knn_cosine_topk, so it scales
identically (no global sort, no driver loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.text import tokens
from vector_graph_rag_spark.queries import register
from vector_graph_rag_spark.sources.tables import load_table

# --- BM25 keyword top-k ------------------------------------------------------

K1 = 1.2
B = 0.75

_BM25_QUERIES = [
    ("q_hash_join", ["hash", "join"]),
    ("q_vector_scan", ["vector", "scan", "filter"]),
    ("q_customer_order", ["customer", "order"]),
]

def query_values_sql(fixture: list[tuple[str, list[str]]]) -> str:
    return ", ".join(f"({qid!r}, {term!r})" for qid, terms in fixture for term in terms)


def bm25_scores_ctes(query_values: str) -> str:
    """CTE chain ``toks .. scored`` — BM25 per-(query, doc) scores; reused by
    the hybrid-fusion oracle (queries/hybrid.py)."""
    return f"""toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
toks_ne AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks_ne GROUP BY doc_id, tok),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks_ne GROUP BY doc_id),
df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks_ne GROUP BY tok),
corpus AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl
),
qterms(query_id, tok) AS (VALUES {query_values}),
term_scores AS (
  SELECT q.query_id, tf.doc_id,
         round(
           ((corpus.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * {K1 + 1.0})
           / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / corpus.avgdl)),
           6) AS term_score
  FROM qterms q
  JOIN tf ON tf.tok = q.tok
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN df ON df.tok = q.tok
  CROSS JOIN corpus
),
scored AS (
  SELECT query_id, doc_id,
         CAST(SUM(CAST(term_score AS DECIMAL(18,6))) AS DOUBLE) AS score,
         COUNT(*) AS n_terms_matched
  FROM term_scores GROUP BY query_id, doc_id
)"""


def bm25_scores(
    spark: SparkSession, sf_dir: str, fixture: list[tuple[str, list[str]]]
) -> DataFrame:
    """BM25 per-(query, doc) scores — the Spark twin of :func:`bm25_scores_ctes`."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    return _bm25_from_stats(spark, tf, dl, df, fixture)


def bm25_scores_from_index(
    spark: SparkSession, index_path: str, fixture: list[tuple[str, list[str]]]
) -> DataFrame:
    """BM25 per-(query, doc) scores derived ENTIRELY from a stored term
    index (``search_api.write_term_index`` layout: doc_id, term, w) — the
    corpus is never re-tokenized.  tf is the stored weight, dl = SUM(w) per
    doc, df = posting-list length per term ((doc_id, term) is unique in the
    index, so COUNT(*) == COUNT(DISTINCT doc_id)).  At 100 TB the
    explode + three token-table aggregations that dominate
    :func:`bm25_scores` (SCALE.md: the whole 1.9x 10x growth of
    ``hybrid_weighted_topk``) are paid ONCE at index-build time and shared
    with ``sparse_index_search`` and every hybrid-fusion leg over the same
    corpus; a ranking query reads only the (doc_id, term, w) columns of the
    posting table.  Equality with the tokenizing path is pinned by
    ``tests/test_search_api.py::test_bm25_from_index_matches_tokenizing_path``."""
    idx = spark.read.parquet(index_path)
    tf = idx.select("doc_id", F.col("term").alias("tok"), F.col("w").alias("tf"))
    dl = idx.groupBy("doc_id").agg(F.sum("w").alias("dl"))
    df = idx.groupBy(F.col("term").alias("tok")).agg(
        F.count(F.lit(1)).alias("df")
    )
    return _bm25_from_stats(spark, tf, dl, df, fixture)


def _bm25_from_stats(
    spark: SparkSession,
    tf: DataFrame,
    dl: DataFrame,
    df: DataFrame,
    fixture: list[tuple[str, list[str]]],
) -> DataFrame:
    """Scoring tail shared by the tokenizing and stored-index stat builders:
    tf (doc_id, tok, tf), dl (doc_id, dl), df (tok, df) → per-(query, doc)
    BM25 scores."""
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    from vector_graph_rag_spark.functions.literals import inline_rows

    qterms = inline_rows(
        spark,
        [(qid, t) for qid, terms in fixture for t in terms],
        "query_id string, tok string",
    )
    # Query side and corpus stats broadcast; tf/dl co-group on doc_id.
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    denom = F.col("tf") + F.lit(K1) * (
        F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.col("avgdl")
    )
    term_scores = (
        F.broadcast(qterms)
        .join(tf, "tok")
        .join(dl, "doc_id")
        .join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "term_score",
            F.round(idf * (F.col("tf") * F.lit(K1 + 1.0)) / denom, 6),
        )
    )
    return term_scores.groupBy("query_id", "doc_id").agg(
        F.sum(F.col("term_score").cast("decimal(18,6)")).cast("double").alias("score"),
        F.count(F.lit(1)).alias("n_terms_matched"),
    )


_BM25_SQL = f"""
WITH {bm25_scores_ctes(query_values_sql(_BM25_QUERIES))}
SELECT query_id, doc_id, score, n_terms_matched,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rank
FROM scored
QUALIFY rank <= 10
"""


@register(
    "bm25_keyword_topk",
    oracle=_BM25_SQL,
    description="BM25 lexical top-k retrieval (k1=1.2, b=0.75, rational idf) — hybrid-retrieval twin of knn_cosine_topk",
    retired=True,  # r12 swap: hybrid_weighted_topk COMPUTES the BM25 leg inside its own oracle, so the BM25 kernel stays driver-gated through the survivor; fusion arithmetic strictly richer than a single ranker; r10-green
)
def bm25_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = bm25_scores(spark, sf_dir, _BM25_QUERIES)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "doc_id", "score", "n_terms_matched", "rank")
    )


@register(
    "bm25_index_topk",
    oracle=_BM25_SQL,
    # ACTIVE since the r13 swap (staged retired=True through r12)
    description=(
        "BM25 top-k served from the STORED term index: tf/dl/df/avgdl all "
        "derived from the posting table sparse_index_search lays down, the "
        "corpus never re-tokenized — the oracle is bm25_keyword_topk's SQL "
        "verbatim, pinning stored-stats BM25 == tokenizing BM25 (the "
        "ann_ivf_index_search pattern)"
    ),
)
def bm25_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-scale half of the BM25 story (SCALE.md §round-11 shared-term-
    index variant): `bm25_keyword_topk` re-pays the corpus tokenize + three
    token-table aggregations per run — measured as the ENTIRE 1.9x 10x
    growth of the hybrid fusion.  Here those statistics are read from the
    term-major posting table (`write_term_index`), shared with
    `sparse_index_search` and any hybrid leg over the same corpus; the
    ranking query touches only (doc_id, term, w) columns and its stat
    aggregations collapse map-side (dl: |docs| rows, df: |terms| rows)."""
    import shutil
    import tempfile

    from vector_graph_rag_spark.queries.search_api import write_term_index

    d = load_table(spark, sf_dir, "documents")
    index = tempfile.mkdtemp(prefix="vgr_bm25idx_")
    try:
        write_term_index(d, index)
        scored = bm25_scores_from_index(spark, index, _BM25_QUERIES)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 10)
            .select("query_id", "doc_id", "score", "n_terms_matched", "rank")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(index, ignore_errors=True)

"""Graph analytics + pipeline operators beyond point retrieval.

- Connected components (bounded min-label propagation) over the derived
  knowledge graph: the "graph reasoning at scale" surface (BASELINE.json
  north star).  PySpark has no GraphX binding and GraphFrames isn't
  available, so components are the standard
  iterative min-label-propagation expressed as DataFrame joins — the same
  algorithm GraphX's `connectedComponents` runs, and the one that scales:
  each round is one shuffle-on-entity-id join + partial-aggregated min.
  The round count is FIXED (k=4) so the result is deterministic and has an
  exact SQL twin even on graphs whose diameter exceeds k; production use
  loops to fixpoint with per-round checkpoint to cut lineage.
- Rerank line repair (reference reranker.py:81-92 `_correct_line`): LLM
  output ids are repaired by exact text match, hallucinations dropped.
- Multimodal binary profile: text→binary payload with typed metadata
  (byte length, sha256, block count) — the opaque-binary-column plumbing
  for image/audio payloads (decode kernels live in operators/multimodal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.literals import inline_rows
from vector_graph_rag_spark.queries import register
from vector_graph_rag_spark.queries.sql_common import TRIPS_CTE
from vector_graph_rag_spark.sources.tables import load_table

# --- connected components: k=4 rounds of min-label propagation --------------

_CC_ROUND = """
{dst} AS (
  SELECT l.id, MIN(LEAST(l.comp, COALESCE(nl.comp, l.comp))) AS comp
  FROM {src} l
  LEFT JOIN edges e ON e.a = l.id
  LEFT JOIN {src} nl ON nl.id = e.b
  GROUP BY l.id
)"""

_CC_SQL = (
    f"""
WITH {TRIPS_CTE},
nodes AS (
  SELECT DISTINCT id FROM (
        SELECT subj_entity_id AS id FROM trips
    UNION ALL
        SELECT obj_entity_id FROM trips
  )
),
edges AS (
  SELECT DISTINCT a, b FROM (
        SELECT subj_entity_id AS a, obj_entity_id AS b FROM trips
    UNION ALL
        SELECT obj_entity_id, subj_entity_id FROM trips
  )
),
l0 AS (SELECT id, id AS comp FROM nodes),"""
    + ",".join(_CC_ROUND.format(src=f"l{i}", dst=f"l{i + 1}") for i in range(4))
    + """
SELECT id, comp FROM l4
"""
)


@register(
    "entity_components_k4",
    oracle=_CC_SQL,
    description="connected components via 4 rounds of min-label propagation (GraphX-style CC as DataFrame joins)",
)
def entity_components_k4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.queries.graphrag import _graph

    from vector_graph_rag_spark.operators.graph_algos import (
        min_label_propagation,
        undirect,
    )

    g = _graph(spark, sf_dir)
    directed = g.relations.select(
        F.col("src_entity_id").alias("a"), F.col("dst_entity_id").alias("b")
    )
    # `undirect` drops self-loops where the SQL twin keeps them; a
    # self-loop can never change a min-label, so results agree.
    return min_label_propagation(
        g.entities.select("id"), undirect(directed), rounds=4
    )


# --- rerank line repair (#35: reranker.py:81-92 _correct_line) --------------
#
# Simulated LLM rerank output built deterministically FROM the data: the
# top-5 relations by id carry (rank 1-2) their correct id, (rank 3-5) a
# hallucinated id with exact correct text — repaired by text match — plus
# one fully bogus line that must be dropped.

_RERANK_SQL = f"""
WITH {TRIPS_CTE},
rels AS (
  SELECT DISTINCT rel_id AS id, rel_text AS text FROM trips
),
top5 AS (
  SELECT id, text, row_number() OVER (ORDER BY id) AS line_no
  FROM rels ORDER BY id LIMIT 5
),
llm_lines AS (
      SELECT line_no,
             CASE WHEN line_no <= 2 THEN id ELSE 'hallucinated-' || line_no END AS claimed_id,
             text
      FROM top5
  UNION ALL
      SELECT 6, 'hallucinated-6', 'no such relation text zzz'
),
by_id AS (
  SELECT l.line_no, l.claimed_id, l.text, r.id AS id_match
  FROM llm_lines l LEFT JOIN rels r ON r.id = l.claimed_id
),
by_text AS (
  SELECT b.line_no, b.claimed_id, b.text, b.id_match,
         (SELECT MIN(r.id) FROM rels r WHERE r.text = b.text) AS text_match
  FROM by_id b
)
SELECT CAST(line_no AS INT) AS line_no,
       COALESCE(id_match, text_match) AS resolved_id,
       text,
       CASE WHEN id_match IS NOT NULL THEN 'id'
            ELSE 'text' END AS resolution
FROM by_text
WHERE COALESCE(id_match, text_match) IS NOT NULL
"""


@register(
    "rerank_line_repair",
    oracle=_RERANK_SQL,
    description="LLM rerank output repair: keep valid ids, fix hallucinated ids by exact text match, drop unmatched (reranker.py:81-92)",
)
def rerank_line_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.queries.graphrag import _graph

    g = _graph(spark, sf_dir)
    rels = g.relations.select("id", "text")
    top5 = (
        rels.orderBy("id")
        .limit(5)
        .withColumn("line_no", F.row_number().over(Window.orderBy("id")))
    )
    llm_lines = top5.select(
        "line_no",
        F.when(F.col("line_no") <= 2, F.col("id"))
        .otherwise(F.concat(F.lit("hallucinated-"), F.col("line_no")))
        .alias("claimed_id"),
        "text",
    ).unionByName(
        inline_rows(
            top5.sparkSession,
            [(6, "hallucinated-6", "no such relation text zzz")],
            "line_no int, claimed_id string, text string",
        )
    )
    by_id = llm_lines.join(
        rels.select(F.col("id").alias("id_match")),
        llm_lines.claimed_id == F.col("id_match"),
        "left",
    )
    text_match = rels.groupBy("text").agg(F.min("id").alias("text_match"))
    return (
        by_id.join(F.broadcast(text_match), "text", "left")
        .select(
            "line_no",
            F.coalesce("id_match", "text_match").alias("resolved_id"),
            "text",
            F.when(F.col("id_match").isNotNull(), F.lit("id"))
            .otherwise(F.lit("text"))
            .alias("resolution"),
        )
        .filter(F.col("resolved_id").isNotNull())
    )


# --- multimodal binary payload profile --------------------------------------

_BINARY_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS payload_sha,
       CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS n_blocks
FROM documents
"""


@register(
    "multimodal_binary_profile",
    oracle=_BINARY_SQL,
    description="opaque binary payload column + typed metadata (byte length, sha256, 64B block count) — multimodal column plumbing",
)
def multimodal_binary_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return d.select(
        "doc_id",
        F.length(payload).cast("bigint").alias("n_bytes"),
        F.sha2(payload, 256).alias("payload_sha"),
        F.ceil(F.length(payload) / F.lit(64.0)).cast("bigint").alias("n_blocks"),
    )


# --- multimodal REAL-codec features (staged r16) ------------------------------

# Deterministic media whose DECODED features have closed forms: solid-color
# BMPs (mean BT.601 luma is the color's luma), constant-amplitude square
# WAVs (RMS is amplitude/32768), and MP4 skeletons (feature is fps/60).
# The binary round-trips through the REAL encoders and the REAL
# stdlib_kernel decoders inside the query — header parse, pixel math,
# Huffman-free formats chosen so the oracle stays exact — which puts the
# r13/r14 codec kernels behind a driver hash gate instead of unit tests
# only.  Feature rounded to 9 dp so float64 vs DuckDB double agree.

_CODEC_SQL = """
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
            WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
       ROUND(CASE CAST(doc_id % 3 AS INT)
         WHEN 0 THEN (0.114 * ((doc_id * 83) % 256)
                      + 0.587 * ((doc_id * 59) % 256)
                      + 0.299 * ((doc_id * 37) % 256)) / 255.0
         WHEN 1 THEN ((doc_id * 11) % 32768) / 32768.0
         ELSE LEAST(1.0, (12 + doc_id % 48) / 60.0) END, 9) AS feature
FROM documents
WHERE doc_id < 300
"""


@register(
    "multimodal_codec_features",
    oracle=_CODEC_SQL,
    # ACTIVE since the r16 swap (staged retired=True through r15)
    description=(
        "REAL-codec decode features with closed-form oracles: per doc a "
        "solid-color BMP / square-wave PCM WAV / MP4 metadata skeleton is "
        "ENCODED from doc_id, shipped as a binary column, and DECODED by "
        "the stdlib kernel inside mapInPandas — mean-luma / RMS / fps "
        "features then equal exact SQL expressions of doc_id, so the hash "
        "gate pins the real codec paths end to end"
    ),
)
def multimodal_codec_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The codec kernels (operators/multimodal.py, operators/mp4.py) under
    a driver hash gate: encode→binary→decode happens Spark-side (Arrow
    batches, zero shuffle), and the decoded feature must reproduce the
    closed form — a wrong BMP row stride, WAV sample width, or stts walk
    breaks the hash.  Formats here are the Huffman-free ones whose decode
    is numerically exact (JPEG's quantization loss keeps it in unit-test
    land, tests/test_jpeg.py)."""
    from collections.abc import Iterator as _It

    import pandas as pd

    from vector_graph_rag_spark.operators.multimodal import (
        ASSET_SCHEMA,
        decode_assets,
        encode_bmp,
        encode_wav,
        stdlib_kernel,
    )
    from vector_graph_rag_spark.operators.mp4 import encode_mp4_meta

    d = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 300
    )

    def _gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    ("asset_id", "modality", "content", "width", "height",
                     "duration_ms")}
            for did in pdf["doc_id"]:
                did = int(did)
                kind = did % 3
                if kind == 0:
                    r, g, b = (did * 37) % 256, (did * 59) % 256, (did * 83) % 256
                    content, modality = (
                        encode_bmp(4, 4, [[(r, g, b)] * 4] * 4),
                        "image",
                    )
                elif kind == 1:
                    a = (did * 11) % 32768
                    content, modality = encode_wav(8000, [a, -a] * 40), "audio"
                else:
                    fps = 12 + did % 48
                    content, modality = (
                        encode_mp4_meta(fps, [1] * (fps * 2), 64, 48),
                        "video",
                    )
                rows["asset_id"].append(f"asset_{did}")
                rows["modality"].append(modality)
                rows["content"].append(content)
                rows["width"].append(0)
                rows["height"].append(0)
                rows["duration_ms"].append(0)
            yield pd.DataFrame(rows)

    assets = d.mapInPandas(_gen, ASSET_SCHEMA)
    return decode_assets(assets, kernel=stdlib_kernel).select(
        F.split(F.col("asset_id"), "_").getItem(1).cast("long").alias("doc_id"),
        "modality",
        F.round("feature", 9).alias("feature"),
    )


# --- multimodal frame sampling (staged r15) ----------------------------------

# Deterministic media metadata synthesized from doc_id (the container has no
# codecs, so duration/fps are typed-metadata stand-ins — the decode kernel
# itself stays the pluggable operators/multimodal.py contract): 10-299 s
# clips at 24/25/30 fps, uniformly strided down to <= 16 sampled frames.
_FRAME_TARGET = 16

_FRAME_SQL = f"""
WITH media AS (
  SELECT doc_id,
         (doc_id % 290) + 10 AS duration_s,
         ([24, 25, 30])[CAST(doc_id % 3 AS INT) + 1] AS fps
  FROM documents
),
meta AS (
  SELECT doc_id, fps, duration_s * fps AS n_frames,
         GREATEST(1, (duration_s * fps) // {_FRAME_TARGET}) AS stride
  FROM media
)
SELECT doc_id, fps, n_frames,
       unnest((range(0, n_frames, stride))[1:{_FRAME_TARGET}]) AS frame_idx,
       (unnest((range(0, n_frames, stride))[1:{_FRAME_TARGET}]) * 1000) // fps AS ts_ms
FROM meta
"""


@register(
    "multimodal_frame_sample",
    oracle=_FRAME_SQL,
    description=(
        "video frame-sampling plan (uniform stride to <= 16 frames per "
        "clip): duration/fps metadata -> exploded (frame_idx, ts_ms) "
        "schedule — the row-explosion half of the multimodal decode "
        "contract, pure JVM sequence arithmetic; the pixel decode stays "
        "the pluggable mapInPandas kernel (operators/multimodal.py)"
    ),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB the frame schedule decides the shuffle: sampling is a
    row-local explode (no exchange), each emitted row carries (doc_id,
    frame_idx, ts_ms) so the downstream decode kernel can seek — a clip
    never ships to more than the partitions its sampled frames land in,
    and the <= 16-frame cap bounds the explosion factor regardless of
    clip length."""
    d = load_table(spark, sf_dir, "documents")
    meta = d.select(
        "doc_id",
        F.element_at(
            F.array(F.lit(24), F.lit(25), F.lit(30)),
            (F.col("doc_id") % 3).cast("int") + 1,
        ).alias("fps"),
        ((F.col("doc_id") % 290) + 10).alias("duration_s"),
    ).select(
        "doc_id",
        "fps",
        (F.col("duration_s") * F.col("fps")).alias("n_frames"),
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"(duration_s * fps) DIV {_FRAME_TARGET}"),
        ).alias("stride"),
    )
    return meta.select(
        "doc_id",
        "fps",
        "n_frames",
        F.explode(
            F.slice(
                F.sequence(
                    F.lit(0).cast("long"), F.col("n_frames") - 1, F.col("stride")
                ),
                1,
                _FRAME_TARGET,
            )
        ).alias("frame_idx"),
    ).select(
        "doc_id",
        "fps",
        "n_frames",
        "frame_idx",
        F.expr("(frame_idx * 1000) DIV fps").alias("ts_ms"),
    )


# --- PageRank: 3 fixed power iterations over the entity graph ---------------
#
# The HippoRAG lineage of the reference makes PageRank the canonical graph-
# reasoning primitive; here it is the standard power iteration expressed as
# DataFrame joins (one shuffle-on-dst join + partial-aggregated sum per
# round — identical shuffle shape to GraphX's Pregel step).  Determinism
# across engines: per-iteration contributions rank/out_deg are rounded to
# 12 decimals and summed as DECIMAL(38,12), which is EXACT and therefore
# independent of partial-sum order — double sums would drift between
# Spark's and DuckDB's aggregation trees.  Iteration count is fixed (k=3)
# so the oracle is the same recurrence unrolled; production loops to
# convergence with per-round localCheckpoint.  Dangling-node mass is
# dropped (not redistributed) on both sides — same recurrence, same result.

_PR_ROUND = """
{dst} AS (
  SELECT n.id,
         round(0.15 / nn.n + 0.85 * COALESCE(s.c, 0), 12) AS rank
  FROM nodes n CROSS JOIN nn
  LEFT JOIN (
    SELECT e.b AS id,
           CAST(SUM(CAST(round(r.rank / d.out_deg, 12) AS DECIMAL(38,12))) AS DOUBLE) AS c
    FROM edges e
    JOIN {src} r ON r.id = e.a
    JOIN outdeg d ON d.id = e.a
    GROUP BY e.b
  ) s ON s.id = n.id
)"""

_PAGERANK_SQL = (
    f"""
WITH {TRIPS_CTE},
nodes AS (
  SELECT DISTINCT id FROM (
        SELECT subj_entity_id AS id FROM trips
    UNION ALL
        SELECT obj_entity_id FROM trips
  )
),
edges AS (
  SELECT DISTINCT subj_entity_id AS a, obj_entity_id AS b FROM trips
),
nn AS (SELECT COUNT(*) AS n FROM nodes),
outdeg AS (SELECT a AS id, COUNT(*) AS out_deg FROM edges GROUP BY a),
r0 AS (SELECT id, round(1.0 / (SELECT n FROM nn), 12) AS rank FROM nodes),"""
    + ",".join(_PR_ROUND.format(src=f"r{i}", dst=f"r{i + 1}") for i in range(3))
    + """
SELECT id, round(rank, 6) AS pagerank FROM r3
"""
)


@register(
    "entity_pagerank_k3",
    oracle=_PAGERANK_SQL,
    description="PageRank, 3 power iterations over directed entity edges (decimal-exact per-round sums)",
)
def entity_pagerank_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.queries.graphrag import _graph

    g = _graph(spark, sf_dir)
    edges = (
        g.relations.select(
            F.col("src_entity_id").alias("a"), F.col("dst_entity_id").alias("b")
        )
        .distinct()
    )
    nodes = g.entities.select("id")
    n = nodes.count()  # scalar; one cheap count job even at full scale
    outdeg = edges.groupBy(F.col("a").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    ranks = nodes.select("id", F.round(F.lit(1.0) / F.lit(float(n)), 12).alias("rank"))
    for _ in range(3):
        contribs = (
            edges.join(ranks.withColumnRenamed("id", "a"), "a")
            .join(outdeg.withColumnRenamed("id", "a"), "a")
            .select(
                F.col("b").alias("id"),
                F.round(F.col("rank") / F.col("out_deg"), 12)
                .cast("decimal(38,12)")
                .alias("c"),
            )
        )
        summed = contribs.groupBy("id").agg(F.sum("c").cast("double").alias("c"))
        ranks = nodes.join(summed, "id", "left").select(
            "id",
            F.round(
                F.lit(0.15 / n) + F.lit(0.85) * F.coalesce("c", F.lit(0.0)), 12
            ).alias("rank"),
        )
    return ranks.select("id", F.round("rank", 6).alias("pagerank"))


# --- triangle count over the undirected entity graph ------------------------

_TRIANGLE_SQL = f"""
WITH {TRIPS_CTE},
uedges AS (
  SELECT DISTINCT LEAST(subj_entity_id, obj_entity_id) AS a,
                  GREATEST(subj_entity_id, obj_entity_id) AS b
  FROM trips WHERE subj_entity_id <> obj_entity_id
)
SELECT COUNT(*) AS n_triangles
FROM uedges e1
JOIN uedges e2 ON e2.a = e1.b
JOIN uedges e3 ON e3.a = e1.a AND e3.b = e2.b
"""


@register(
    "entity_triangle_count",
    oracle=_TRIANGLE_SQL,
    description="triangle count via ordered 3-way self-join (each triangle counted once)",
)
def entity_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.operators.graph_algos import triangle_count
    from vector_graph_rag_spark.queries.graphrag import _graph

    g = _graph(spark, sf_dir)
    return triangle_count(
        g.relations.select(
            F.col("src_entity_id").alias("a"), F.col("dst_entity_id").alias("b")
        )
    )


# --- entity neighborhood Jaccard (structural similarity / link prediction) --
#
# Similarity of two entities = Jaccard of their relation sets — the
# structural twin of the text/embedding similarity operators, and the
# standard link-prediction primitive.  Candidate pairs come from a
# self-join on shared relations (bucket-local, like the shingle join in
# ngram_jaccard_pairs) so the all-pairs product never materializes.

_ENTITY_JACCARD_SQL = f"""
WITH {TRIPS_CTE},
deg AS (SELECT entity_id, COUNT(*) AS n FROM entity_relation GROUP BY entity_id),
inter AS (
  SELECT a.entity_id AS ent_a, b.entity_id AS ent_b, COUNT(*) AS n_inter
  FROM entity_relation a JOIN entity_relation b
    ON a.relation_id = b.relation_id AND a.entity_id < b.entity_id
  GROUP BY a.entity_id, b.entity_id
),
jac AS (
  SELECT i.ent_a, i.ent_b,
         round(CAST(i.n_inter AS DOUBLE) / (da.n + db.n - i.n_inter), 6) AS jaccard
  FROM inter i
  JOIN deg da ON da.entity_id = i.ent_a
  JOIN deg db ON db.entity_id = i.ent_b
)
SELECT ent_a, ent_b, jaccard,
       CAST(row_number() OVER (ORDER BY jaccard DESC, ent_a ASC, ent_b ASC) AS INT) AS rk
FROM jac
QUALIFY rk <= 50
"""


@register(
    "entity_neighbor_jaccard",
    oracle=_ENTITY_JACCARD_SQL,
    description="entity structural similarity: Jaccard of relation sets over shared-relation pairs, top-50",
)
def entity_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.queries.graphrag import _graph

    er = _graph(spark, sf_dir).entity_relation
    deg = er.groupBy("entity_id").agg(F.count(F.lit(1)).alias("n"))
    a = er.select(F.col("entity_id").alias("ent_a"), "relation_id")
    b = er.select(F.col("entity_id").alias("ent_b"), "relation_id")
    inter = (
        a.join(b, "relation_id")
        .filter(F.col("ent_a") < F.col("ent_b"))
        .groupBy("ent_a", "ent_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    da = deg.select(F.col("entity_id").alias("ent_a"), F.col("n").alias("na"))
    db = deg.select(F.col("entity_id").alias("ent_b"), F.col("n").alias("nb"))
    jac = (
        inter.join(da, "ent_a")
        .join(db, "ent_b")
        .select(
            "ent_a",
            "ent_b",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )
    # orderBy().limit() → TakeOrderedAndProject; the rank window then sees
    # only the 50 survivors, never the full pair set.
    top = jac.orderBy(F.desc("jaccard"), F.asc("ent_a"), F.asc("ent_b")).limit(50)
    w = Window.orderBy(F.desc("jaccard"), F.asc("ent_a"), F.asc("ent_b"))
    return top.withColumn("rk", F.row_number().over(w)).select(
        "ent_a", "ent_b", "jaccard", "rk"
    )


# --- personalized PageRank from the seed entities ---------------------------
#
# The HippoRAG-family ranking primitive (the reference's lineage ranks
# passages by PPR from query entities): identical power iteration to
# entity_pagerank_k3 but teleport mass goes ONLY to the seed entities —
# scores become query-relative relevance, not global centrality.  Same
# decimal-exact per-round sums; same fixed k=3 for the unrolled oracle.

_PPR_ROUND = """
{dst} AS (
  SELECT n.id,
         round((CASE WHEN sn.id IS NOT NULL THEN 0.15 / ns.n ELSE 0.0 END)
               + 0.85 * COALESCE(s.c, 0), 12) AS rank
  FROM nodes n CROSS JOIN ns
  LEFT JOIN snodes sn ON sn.id = n.id
  LEFT JOIN (
    SELECT e.b AS id,
           CAST(SUM(CAST(round(r.rank / d.out_deg, 12) AS DECIMAL(38,12))) AS DOUBLE) AS c
    FROM edges e
    JOIN {src} r ON r.id = e.a
    JOIN outdeg d ON d.id = e.a
    GROUP BY e.b
  ) s ON s.id = n.id
)"""


def _ppr_ctes(k: int = 3) -> str:
    """CTE chain ``trips .. r{k}`` — shared by the PPR queries and the
    PPR-ranked retrieval composite."""
    from vector_graph_rag_spark.queries.graphrag import SEED_NAMES
    from vector_graph_rag_spark.queries.sql_common import norm_sql

    seed_list = ", ".join(
        f"sha256('entity:' || {norm_sql(repr(s))})" for s in SEED_NAMES
    )
    return (
        f"""{TRIPS_CTE},
nodes AS (
  SELECT DISTINCT id FROM (
        SELECT subj_entity_id AS id FROM trips
    UNION ALL
        SELECT obj_entity_id FROM trips
  )
),
edges AS (
  SELECT DISTINCT subj_entity_id AS a, obj_entity_id AS b FROM trips
),
snodes AS (SELECT id FROM nodes WHERE id IN ({seed_list})),
ns AS (SELECT COUNT(*) AS n FROM snodes),
outdeg AS (SELECT a AS id, COUNT(*) AS out_deg FROM edges GROUP BY a),
r0 AS (
  SELECT n.id,
         round(CASE WHEN sn.id IS NOT NULL THEN 1.0 / ns.n ELSE 0.0 END, 12) AS rank
  FROM nodes n CROSS JOIN ns LEFT JOIN snodes sn ON sn.id = n.id
),"""
        + ",".join(_PPR_ROUND.format(src=f"r{i}", dst=f"r{i + 1}") for i in range(k))
    )


def _ppr_sql(k: int = 3) -> str:
    return f"WITH {_ppr_ctes(k)}\nSELECT id, round(rank, 6) AS ppr FROM r{k}\n"


def _ppr_ranks(
    spark: SparkSession, g, k: int, checkpoint_after: int | None = None
) -> DataFrame:
    """k rounds of seed-personalized power iteration → (id, rank).

    ``checkpoint_after``: from that round index on, each round's rank vector
    is eagerly localCheckpoint-ed — the rank vector is |entities| rows (tiny
    next to the edge table), and truncating the lineage keeps the plan depth
    constant instead of growing per round (SURVEY §7 risk: iterative plans).
    Production note: run to convergence with a driver-side delta check on the
    same checkpointed vector; declared queries fix k so the DuckDB oracle can
    unroll the identical chain.
    """
    flagged, edges, outdeg, ns, is_seed = _ppr_setup(spark, g)
    ranks = _ppr_init(flagged, ns, is_seed)
    for i in range(k):
        ranks = _ppr_round_step(flagged, edges, outdeg, ranks, ns, is_seed)
        if checkpoint_after is not None and i >= checkpoint_after:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def _ppr_setup(spark: SparkSession, g):
    """Shared PPR state: seed-flagged node table, distinct edge list,
    out-degrees, seed count.

    All three frames are round-invariant and referenced by EVERY power
    iteration (edges twice per round: contribution join + out-degree
    derivation), and Spark re-executes duplicated subtrees — so each is
    localCheckpoint-ed once (measured 5.0 -> 2.8s warm for the k=8 query
    at sf0.1 when this materialization landed in r8).  LAZY since r17:
    the checkpoint still truncates the plan and dedupes the subtree, but
    materialization happens inside the first consuming job instead of a
    dedicated job per frame — 3 fewer jobs per PPR query for identical
    rows (guide §1.2: job-count overhead)."""
    from vector_graph_rag_spark.queries.graphrag import _seed_entities

    edges = (
        g.relations.select(
            F.col("src_entity_id").alias("a"), F.col("dst_entity_id").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = g.entities.select("id")
    seeds = _seed_entities(spark).withColumnRenamed("entity_id", "id")
    snodes = nodes.join(F.broadcast(seeds), "id", "left_semi")
    ns = snodes.count()  # bounded by the (small) seed set
    is_seed = F.col("sid").isNotNull()
    flagged = nodes.join(
        F.broadcast(snodes.select(F.col("id"), F.lit(1).alias("sid"))), "id", "left"
    ).localCheckpoint(eager=False)
    outdeg = (
        edges.groupBy(F.col("a").alias("id"))
        .agg(F.count(F.lit(1)).alias("out_deg"))
        .localCheckpoint(eager=False)
    )
    return flagged, edges, outdeg, ns, is_seed


def _ppr_init(flagged: DataFrame, ns: int, is_seed) -> DataFrame:
    return flagged.select(
        "id",
        F.round(
            F.when(is_seed, F.lit(1.0) / F.lit(float(ns))).otherwise(F.lit(0.0)), 12
        ).alias("rank"),
    )


def _ppr_round_step(
    flagged: DataFrame, edges: DataFrame, outdeg: DataFrame, ranks: DataFrame,
    ns: int, is_seed,
) -> DataFrame:
    """One power-iteration round — decimal-exact contribution sums so Spark
    and the unrolled DuckDB oracle agree bit-for-bit."""
    contribs = (
        edges.join(ranks.withColumnRenamed("id", "a"), "a")
        .join(outdeg.withColumnRenamed("id", "a"), "a")
        .select(
            F.col("b").alias("id"),
            F.round(F.col("rank") / F.col("out_deg"), 12)
            .cast("decimal(38,12)")
            .alias("c"),
        )
    )
    summed = contribs.groupBy("id").agg(F.sum("c").cast("double").alias("c"))
    return flagged.join(summed, "id", "left").select(
        "id",
        F.round(
            F.when(is_seed, F.lit(0.15) / F.lit(float(ns))).otherwise(F.lit(0.0))
            + F.lit(0.85) * F.coalesce("c", F.lit(0.0)),
            12,
        ).alias("rank"),
    )


def ppr_to_convergence(
    spark: SparkSession,
    g,
    tol: float = 1e-9,
    max_rounds: int = 50,
) -> tuple[DataFrame, int]:
    """Run seed-personalized PageRank to a fixed point — the production loop
    the fixed-k declared queries stand in for (the reference's HippoRAG
    lineage ranks passages by CONVERGED PPR; fixed k exists here only so the
    DuckDB oracle can unroll an identical chain).

    Returns ``(ranks, rounds_run)``.  Each round's rank vector (|entities|
    rows — tiny next to the edge table) is LAZILY localCheckpoint-ed and
    materialized by the round's own ``max(|Δrank|)`` aggregate — one job
    per round doing both the lineage cut and the convergence check (the
    r17 fusion; the eager form paid two) — so plan depth stays constant
    no matter how many rounds convergence takes.  At 1000-executor scale the edge
    table never moves — every round reuses its partitioning; only the small
    rank vector shuffles.
    """
    flagged, edges, outdeg, ns, is_seed = _ppr_setup(spark, g)
    ranks = _ppr_init(flagged, ns, is_seed).localCheckpoint(eager=False)
    rounds = 0
    for _ in range(max_rounds):
        nxt = _ppr_round_step(flagged, edges, outdeg, ranks, ns, is_seed)
        nxt = nxt.localCheckpoint(eager=False)
        rounds += 1
        delta = (
            ranks.withColumnRenamed("rank", "prev")
            .join(nxt, "id", "full")
            .select(
                F.max(
                    F.abs(F.coalesce("rank", F.lit(0.0)) - F.coalesce("prev", F.lit(0.0)))
                ).alias("d")
            )
            .first()["d"]
        )
        ranks = nxt
        if delta is not None and delta < tol:
            break
    return ranks, rounds


@register(
    "entity_ppr_seeds_k3",
    oracle=_ppr_sql(),
    description="personalized PageRank from seed entities, 3 iterations (HippoRAG-style query-relative relevance)",
)
def entity_ppr_seeds_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.queries.graphrag import _graph

    g = _graph(spark, sf_dir)
    ranks = _ppr_ranks(spark, g, k=3)
    return ranks.select("id", F.round("rank", 6).alias("ppr"))


@register(
    "entity_ppr_seeds_k8",
    oracle=_ppr_sql(8),
    retired=True,  # r6 swap: same PPR kernel driver-gated at k=3 (entity_ppr_seeds_k3) + ppr_to_convergence twin
    description=(
        "personalized PageRank at depth 8 with per-round localCheckpoint past "
        "round 5 — the HippoRAG run-to-convergence shape with bounded lineage"
    ),
)
def entity_ppr_seeds_k8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.queries.graphrag import _graph

    g = _graph(spark, sf_dir)
    ranks = _ppr_ranks(spark, g, k=8, checkpoint_after=5)
    return ranks.select("id", F.round("rank", 6).alias("ppr"))


# --- PPR-ranked passage retrieval (the HippoRAG retrieval shape) ------------
#
# Passages ranked by the summed personalized-PageRank mass of their
# entities — the retrieval strategy of the reference's lineage (HippoRAG),
# here as one declarative pipeline: PPR (3 rounds) → entity→passage edges
# → decimal-exact score sum → top-10.

_PPR_RETRIEVE_SQL_TAIL = """
ep AS (
  SELECT DISTINCT er.entity_id, rp.passage_id
  FROM entity_relation er JOIN relation_passage rp ON rp.relation_id = er.relation_id
),
scored AS (
  SELECT ep.passage_id,
         CAST(SUM(CAST(round(r.rank, 6) AS DECIMAL(18,6))) AS DOUBLE) AS ppr_score,
         COUNT(*) AS n_entities
  FROM ep JOIN r3 r ON r.id = ep.entity_id
  GROUP BY ep.passage_id
)
SELECT passage_id, ppr_score, n_entities,
       CAST(row_number() OVER (ORDER BY ppr_score DESC, passage_id ASC) AS INT) AS rank
FROM scored
QUALIFY rank <= 10
"""


@register(
    "graph_rag_ppr_retrieve",
    oracle=f"WITH {_ppr_ctes()},\n{_PPR_RETRIEVE_SQL_TAIL}",
    description="PPR-ranked passage retrieval: seed PPR mass summed per passage, top-10 (HippoRAG retrieval shape)",
)
def graph_rag_ppr_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.queries.graphrag import _graph

    g = _graph(spark, sf_dir)
    ppr = entity_ppr_seeds_k3(spark, sf_dir).withColumnRenamed("id", "entity_id")
    ep = (
        g.entity_relation.join(g.relation_passage, "relation_id")
        .select("entity_id", "passage_id")
        .distinct()
    )
    scored = (
        ep.join(ppr, "entity_id")
        .groupBy("passage_id")
        .agg(
            F.sum(F.col("ppr").cast("decimal(18,6)")).cast("double").alias("ppr_score"),
            F.count(F.lit(1)).alias("n_entities"),
        )
    )
    # Top-10 via TakeOrderedAndProject — the scored passage set is
    # corpus-scale at 100 TB, so no global window sort; rank the 10 survivors.
    top = scored.orderBy(F.desc("ppr_score"), F.asc("passage_id")).limit(10)
    w = Window.orderBy(F.desc("ppr_score"), F.asc("passage_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "passage_id", "ppr_score", "n_entities", "rank"
    )


# --- label-propagation communities (staged r12) -------------------------------

_LPA_ROUND = """
c{i} AS (
  SELECT e.a AS id, l.comm AS lab, COUNT(*) AS n
  FROM edges e JOIN l{i} l ON l.id = e.b
  GROUP BY 1, 2
),
m{i} AS (SELECT id, MAX(n) AS mx FROM c{i} GROUP BY id),
p{i} AS (
  SELECT c.id, MIN(c.lab) AS lab
  FROM c{i} c JOIN m{i} m ON m.id = c.id AND c.n = m.mx
  GROUP BY c.id
),
l{j} AS (
  SELECT l.id, COALESCE(p.lab, l.comm) AS comm
  FROM l{i} l LEFT JOIN p{i} p ON p.id = l.id
)"""

_LPA_SQL = (
    f"""
WITH {TRIPS_CTE},
nodes AS (
  SELECT DISTINCT id FROM (
        SELECT subj_entity_id AS id FROM trips
    UNION ALL
        SELECT obj_entity_id FROM trips
  )
),
edges AS (
  -- symmetric closure, SELF-LOOPS DROPPED: unlike min-label CC a self
  -- loop votes for the node's own label and would bias the frequency
  SELECT DISTINCT a, b FROM (
        SELECT subj_entity_id AS a, obj_entity_id AS b FROM trips
    UNION ALL
        SELECT obj_entity_id, subj_entity_id FROM trips
  ) WHERE a <> b
),
l0 AS (SELECT id, id AS comm FROM nodes),"""
    + ",".join(_LPA_ROUND.format(i=i, j=i + 1) for i in range(3))
    + """
SELECT id, comm FROM l3
"""
)


@register(
    "entity_lpa_communities_k3",
    oracle=_LPA_SQL,
    # ACTIVE since the r12 swap (staged retired=True through r11)
    description=(
        "label-propagation communities (Raghavan et al. 2007), 3 "
        "synchronous rounds: each entity adopts its neighbors' most "
        "frequent label, ties to the lowest — the density-based community "
        "primitive GraphRAG-style pipelines summarize over (vs min-label "
        "CC's connectivity classes); window-free aggregation rounds"
    ),
)
def entity_lpa_communities_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vector_graph_rag_spark.operators.graph_algos import (
        label_propagation_communities,
        undirect,
    )
    from vector_graph_rag_spark.queries.graphrag import _graph

    g = _graph(spark, sf_dir)
    directed = g.relations.select(
        F.col("src_entity_id").alias("a"), F.col("dst_entity_id").alias("b")
    )
    return label_propagation_communities(
        g.entities.select("id"), undirect(directed), rounds=3
    )


# --- exact key-skew profile (staged r14) ---------------------------------------

_SKEW_TOPN = 20

# NULL keys excluded in lockstep (the ADVICE-r9 source_temperature rule):
# a NULL user_id group would hit the engines' opposite NULL sort defaults
# (Spark ASC=NULLS FIRST, DuckDB ASC=NULLS LAST) at any tie, and a NULL
# shuffle key is its own pathology the profile shouldn't fold into rank 1.
_SKEW_SQL = f"""
WITH per_key AS (SELECT user_id, COUNT(*) AS n_events FROM events
                 WHERE user_id IS NOT NULL GROUP BY user_id),
tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_keys FROM per_key)
SELECT user_id, n_events,
       round(n_events * 1.0 / total, 6) AS share,
       round(n_events * 1.0 * n_keys / total, 6) AS skew_ratio,
       rank
FROM (
  SELECT p.user_id, p.n_events, t.total, t.n_keys,
         CAST(row_number() OVER (ORDER BY p.n_events DESC, p.user_id ASC) AS INT) AS rank
  FROM per_key p CROSS JOIN tot t
) WHERE rank <= {_SKEW_TOPN}
"""


@register(
    "key_skew_profile",
    oracle=_SKEW_SQL,
    # ACTIVE since the r14 swap (staged retired=True through r13)
    description=(
        "exact heavy-hitter skew profile over the events shuffle key: "
        "top-20 keys with event count, corpus share, and skew ratio "
        "(count / mean-count — the number that decides salting); the "
        "exact twin of the cm_frequency_registers sketch"
    ),
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-flight a 100 TB shuffle plan runs before picking a salting
    factor: skew_ratio > ~5-10 on the top key means the groupBy(user_id)
    family (sessionization, stateful streaming) needs salting or AQE skew
    handling on THIS data.  Plan: one map-side-combined per-key count, a
    1-row broadcast of (total, n_keys), and a TakeOrderedAndProject top-20
    — the per-key frame is never globally sorted, so the profile costs one
    aggregation even when |keys| is billions."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    tot = per_key.agg(
        F.sum("n_events").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
    )
    top = per_key.orderBy(F.desc("n_events"), F.asc("user_id")).limit(_SKEW_TOPN)
    w = Window.orderBy(F.desc("n_events"), F.asc("user_id"))
    return (
        top.crossJoin(F.broadcast(tot))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select(
            "user_id",
            "n_events",
            F.round(F.col("n_events") * F.lit(1.0) / F.col("total"), 6).alias("share"),
            F.round(
                F.col("n_events") * F.lit(1.0) * F.col("n_keys") / F.col("total"), 6
            ).alias("skew_ratio"),
            "rank",
        )
    )

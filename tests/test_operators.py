"""Unit tests: chunker parity, CRUD cascades, LLM runner/rerank, multimodal,
catalog round-trip — mirroring the reference's test strategy (SURVEY §5:
storage ops, graph-layer behavior, edge cases)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from vector_graph_rag_spark.graph.builder import adjacency_arrays


# --- chunker (reference tests chunk semantics implicitly via loaders) -------


def test_chunk_text_short_passthrough():
    from vector_graph_rag_spark.sources.loaders import chunk_text

    assert chunk_text("short", 1000, 200) == ["short"]


def test_chunk_text_greedy_packing_and_separator_priority():
    from vector_graph_rag_spark.sources.loaders import chunk_text

    # "\n\n" present → split on it, greedy-pack parts up to chunk_size.
    text = "para1 aaaa\n\npara2 bbbb\n\npara3 cccc"
    chunks = chunk_text(text, chunk_size=25, chunk_overlap=5)
    assert chunks == ["para1 aaaa\n\npara2 bbbb", "para3 cccc"]
    # single separator only at lower priority → ". " chosen when no newlines
    text2 = "aaaa. bbbb. cccc"
    chunks2 = chunk_text(text2, chunk_size=11, chunk_overlap=2)
    assert chunks2 == ["aaaa. bbbb", "cccc"]


def test_chunk_text_char_window_fallback():
    from vector_graph_rag_spark.sources.loaders import chunk_text

    text = "x" * 2500  # no separators at all
    chunks = chunk_text(text, chunk_size=1000, chunk_overlap=200)
    # stride 800 windows of ≤1000 chars
    assert chunks[0] == "x" * 1000
    assert len(chunks) == 4  # offsets 0, 800, 1600, 2400
    assert chunks[-1] == "x" * 100


def test_chunk_text_oversized_part_splits():
    from vector_graph_rag_spark.sources.loaders import chunk_text

    big = "y" * 50
    text = f"aaa bbb {big[:0]}" + " " + big  # spaces present; big part > size
    chunks = chunk_text("aaa " + big, chunk_size=20, chunk_overlap=5)
    assert chunks[0] == "aaa"
    assert all(len(c) <= 20 for c in chunks)
    assert "".join(chunks).count("y") >= 50  # windows overlap duplicates ys


def test_chunk_documents_df(spark):
    from vector_graph_rag_spark.sources.loaders import chunk_documents

    docs = spark.createDataFrame(
        [(1, "a" * 50 + " " + "b" * 50 + " " + "c" * 50)], "doc_id long, text string"
    )
    out = chunk_documents(docs, chunk_size=60, chunk_overlap=10).collect()
    assert all(r.total_chunks == len(out) for r in out)
    assert [r.chunk_index for r in out] == list(range(len(out)))


# --- CRUD cascade (reference tests/test_graph.py:233-288) -------------------


@pytest.fixture(scope="module")
def small_graph(spark):
    from vector_graph_rag_spark.graph.builder import build_graph

    docs = spark.createDataFrame(
        [
            ("p1", "", [("Alice", "knows", "Bob"), ("Bob", "likes", "Carol")]),
            ("p2", "", [("alice", "knows", "bob")]),  # dup relation, case-insensitive
            ("p3", "", [("Carol", "sees", "Dave")]),
        ],
        "doc_id string, text string, triplets array<struct<subject:string,predicate:string,object:string>>",
    )
    return build_graph(docs)


def test_build_case_insensitive_dedup(small_graph):
    ents = {r.name for r in small_graph.entities.collect()}
    # first-seen raw forms kept
    assert ents == {"Alice", "Bob", "Carol", "Dave"}
    rels = adjacency_arrays(small_graph).relations.collect()
    assert len(rels) == 3  # "Alice knows Bob" == "alice knows bob"
    knows = [r for r in rels if r.predicate == "knows"][0]
    assert sorted(knows.passage_ids) == ["p1", "p2"]


def test_cascade_delete_passage(spark, small_graph):
    from vector_graph_rag_spark.graph.crud import delete_passages

    g2 = delete_passages(small_graph, ["p2"])
    assert g2.passages.count() == 2
    knows = [r for r in adjacency_arrays(g2).relations.collect() if r.predicate == "knows"][0]
    assert knows.passage_ids == ["p1"]  # p2 stripped, relation kept
    # entities kept even if orphaned
    assert g2.entities.count() == 4


def test_cascade_delete_relation(spark, small_graph):
    from vector_graph_rag_spark.functions.text import relation_id as rid_fn
    from vector_graph_rag_spark.graph.crud import delete_relations

    rid = small_graph.relations.filter(F.col("predicate") == "sees").collect()[0].id
    g2 = delete_relations(small_graph, [rid])
    assert g2.relations.count() == 2
    assert g2.entity_relation.filter(F.col("relation_id") == rid).count() == 0
    # passages keep rows; p3's relation_ids array stripped
    p3 = [p for p in adjacency_arrays(g2).passages.collect() if p.id == "p3"][0]
    assert p3.relation_ids == []


def test_upsert_passages(spark, small_graph):
    from vector_graph_rag_spark.graph.crud import upsert_passages

    new_docs = spark.createDataFrame(
        [("p3", "", [("Dave", "meets", "Eve")])],
        "doc_id string, text string, triplets array<struct<subject:string,predicate:string,object:string>>",
    )
    g2 = upsert_passages(small_graph, new_docs)
    assert g2.passages.count() == 3
    rels = {r.predicate: r for r in adjacency_arrays(g2).relations.collect()}
    assert "meets" in rels
    # Reference cascade semantics: the old 'sees' relation is KEPT but its
    # passage ref is stripped (graph.py:656-670 rewrites arrays only).
    assert rels["sees"].passage_ids == []
    assert rels["meets"].passage_ids == ["p3"]
    assert {r.name for r in g2.entities.collect()} >= {"Eve"}


def test_cascade_deletes_keep_mentions_apart_from_relations(spark, small_graph):
    # delete_relations rewrites only relation_ids (graph.py:430-475):
    # entities keep their passage_ids and passages their entity_ids.
    # delete_entities strips the entity from passages' entity_ids.
    from vector_graph_rag_spark.functions.text import entity_id_str
    from vector_graph_rag_spark.graph.crud import delete_entities, delete_relations

    rid = small_graph.relations.filter(F.col("predicate") == "sees").collect()[0].id
    g2 = adjacency_arrays(delete_relations(small_graph, [rid]))
    ents = {r.name: r for r in g2.entities.collect()}
    assert ents["Dave"].passage_ids == ["p3"] and ents["Dave"].relation_ids == []
    assert sorted(ents["Carol"].passage_ids) == ["p1", "p3"]
    assert len(ents["Carol"].relation_ids) == 1
    p3 = [p for p in g2.passages.collect() if p.id == "p3"][0]
    assert p3.relation_ids == []
    assert p3.entity_ids == sorted([entity_id_str("Carol"), entity_id_str("Dave")])

    g3 = adjacency_arrays(delete_entities(small_graph, [entity_id_str("Carol")]))
    assert g3.entities.count() == 3
    passages = {p.id: p for p in g3.passages.collect()}
    assert passages["p3"].entity_ids == [entity_id_str("Dave")]
    assert passages["p1"].entity_ids == sorted([entity_id_str("Alice"), entity_id_str("Bob")])
    assert len(passages["p3"].relation_ids) == 1  # the relation itself stays
    rels = {r.predicate: r for r in g3.relations.collect()}
    assert rels["sees"].passage_ids == ["p3"]


# --- catalog round-trip (milvus.py:847-978 parity) --------------------------


def test_catalog_roundtrip(spark, small_graph, tmp_path):
    from vector_graph_rag_spark.sources.catalog import GraphCatalog

    cat = GraphCatalog(str(tmp_path))
    assert cat.list_graphs() == []
    cat.write_graph("g1", small_graph)
    listed = cat.list_graphs()
    assert listed == [{"name": "g1", "has_all_tables": True}]
    g = cat.read_graph(spark, "g1")
    assert g.entities.count() == 4
    stats = cat.graph_stats(spark, "g1")
    assert stats == {"entities": 4, "relations": 3, "passages": 3}
    assert cat.delete_graph("g1") is True
    assert cat.list_graphs() == []
    assert cat.delete_graph("g1") is False


# --- LLM runner + rerank ----------------------------------------------------


def test_llm_map_operator_cache_split(spark):
    from vector_graph_rag_spark.llm.runner import MockModelRunner, llm_map_operator

    import hashlib

    df = spark.createDataFrame([("q1",), ("q2",), ("q3",)], "prompt string")
    cache = spark.createDataFrame(
        [(hashlib.md5(b"q2").hexdigest(), "cached-answer")],
        "prompt_md5 string, response string",
    )
    out = llm_map_operator(
        df, "prompt", MockModelRunner({"q1": "fixture-answer"}), cache=cache
    ).collect()
    by_prompt = {r.prompt: r for r in out}
    assert by_prompt["q2"].response == "cached-answer" and by_prompt["q2"].from_cache
    assert by_prompt["q1"].response == "fixture-answer" and not by_prompt["q1"].from_cache
    assert by_prompt["q3"].response.startswith("mock:")


def test_rerank_parse_and_repair():
    from vector_graph_rag_spark.llm.rerank import parse_rerank_response

    ids = ["r1", "r2", "r3"]
    texts = ["alice knows bob", "bob likes carol", "carol sees dave"]
    resp = (
        '{"thought_process": "...", "useful_relations": '
        '["[r2] bob likes carol", "[bogus] carol sees dave", "[r2] bob likes carol", "junk"]}'
    )
    # valid id passes; bogus id repaired by exact text; dup dropped; junk dropped
    assert parse_rerank_response(resp, ids, texts) == ["r2", "r3"]
    assert parse_rerank_response("not json", ids, texts) == []


# --- multimodal stubs -------------------------------------------------------


def _assets(docs):
    """Deterministic assets derived from the documents table, a stand-in
    for a binaryFile scan: content = UTF-8 bytes of the text, metadata
    derived from doc fields."""
    return docs.select(
        F.concat(F.lit("asset_"), F.col("doc_id").cast("string")).alias("asset_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.col("doc_id") % 3 + 1).cast("int")).alias("modality"),
        F.encode("text", "utf-8").alias("content"),
        (F.col("n_chars") % 1920).cast("int").alias("width"),
        (F.col("n_chars") % 1080).cast("int").alias("height"),
        (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
    )


def test_multimodal_decode_fake_kernel(spark):
    from vector_graph_rag_spark.operators.multimodal import (
        decode_assets,
        resize_images,
        sample_frames,
    )
    from vector_graph_rag_spark.sources.tables import load_table

    # nested, so it pickles by value into the Python workers
    def _mean_byte_kernel(modality: str, content: bytes) -> dict:
        """Deterministic decode kernel: feature = normalized first-byte mean."""
        if not content:
            return {"feature": 0.0}
        return {"feature": sum(content[:64]) / (255.0 * min(len(content), 64))}

    docs = load_table(spark, SF_SMOKE, "documents").limit(30)
    assets = _assets(docs)
    decoded = decode_assets(assets, kernel=_mean_byte_kernel).collect()
    assert len(decoded) == 30
    assert all(0.0 <= r.feature <= 1.0 for r in decoded)
    assert all(len(r.checksum) == 32 for r in decoded)

    resized = resize_images(assets, max_side=100).collect()
    for r in resized:
        if r.modality == "image" and max(r.width, r.height) > 100:
            assert max(r.target_width, r.target_height) <= 100

    frames = sample_frames(assets, every_ms=500)
    vid = assets.filter(F.col("modality") == "video").count()
    assert frames.select("asset_id").distinct().count() == vid


def test_multimodal_decode_default_raises(spark):
    from vector_graph_rag_spark.operators.multimodal import decode_assets
    from vector_graph_rag_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").limit(2)
    with pytest.raises(Exception) as exc_info:
        decode_assets(_assets(docs)).collect()
    assert "NotImplementedError" in str(exc_info.value) or "decode for modality" in str(
        exc_info.value
    )


def test_range_join_bucket_boundary(spark):
    import datetime as dt

    from vector_graph_rag_spark.operators.timeseries import range_join_bucketed

    base = dt.datetime(2024, 1, 1, 0, 0, 0)  # exactly on a 900s bucket edge
    s = lambda sec: base + dt.timedelta(seconds=sec)  # noqa: E731
    left = spark.createDataFrame(
        [(1, "u", s(899))], "lid int, user string, ts timestamp"
    )
    right = spark.createDataFrame(
        # 899 excluded (not strictly after), 900/1799 in (next bucket), 1800 out.
        [("u", s(899), 10), ("u", s(900), 11), ("u", s(1799), 12), ("u", s(1800), 13)],
        "user string, ts timestamp, rid int",
    )
    got = sorted(
        r["rid"]
        for r in range_join_bucketed(
            left, right, on=["user"], width_seconds=900
        ).collect()
    )
    assert got == [11, 12]


def test_ivf_index_partition_pruning(spark, tmp_path):
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from vector_graph_rag_spark.operators.ivf import ivf_search, write_ivf_index
    from vector_graph_rag_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    corpus = emb.select("vec_id", "embedding")
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    path = str(tmp_path / "ivf_index")
    write_ivf_index(corpus, cent, path)

    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    result = ivf_search(spark, path, queries, cent, k=10, nprobe=2)

    # Matches the logical IVF in DuckDB (same centroids/probes/k).
    from vector_graph_rag_spark.queries.extended import _IVF_SQL
    from vector_graph_rag_spark.testing import duck_connection

    expected = sorted(duck_connection(SF_SMOKE).execute(_IVF_SQL).fetchall())
    assert sorted(map(tuple, result.collect())) == expected

    # The scan is partition-pruned: the probe filter reaches the file index
    # as a PartitionFilter (inputFiles() reflects the unpruned relation, so
    # assert on the executed plan instead).
    import re

    pruned = spark.read.parquet(path).filter(F.col("cell_id").isin([0, 3]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*IN \(0,3\)[^\]]*\]", plan)
    assert m, f"no partition filter in plan:\n{plan[:2000]}"
    n_cells = spark.read.parquet(path).select("cell_id").distinct().count()
    assert n_cells > 2 and pruned.count() < emb.count()


def test_stream_incremental_index_equals_batch_build(spark, tmp_path):
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from vector_graph_rag_spark.graph.builder import build_graph, synthetic_triplet_docs
    from vector_graph_rag_spark.sources.catalog import TABLE_NAMES, GraphCatalog
    from vector_graph_rag_spark.sources.tables import load_table
    from vector_graph_rag_spark.streaming.index import stream_index_documents

    docs = load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 40)
    # Two parquet files -> two micro-batches with maxFilesPerTrigger=1.
    docs_dir = str(tmp_path / "doc_stream")
    docs.filter(F.col("doc_id") < 20).coalesce(1).write.parquet(docs_dir + "/p1")
    docs.filter(F.col("doc_id") >= 20).coalesce(1).write.parquet(docs_dir + "/p2")
    import glob
    import shutil

    flat = str(tmp_path / "flat")
    import os

    os.makedirs(flat)
    for i, f in enumerate(sorted(glob.glob(docs_dir + "/p*/part-*.parquet"))):
        shutil.copy(f, f"{flat}/{i}.parquet")

    cat = GraphCatalog(str(tmp_path / "graphs"))
    n = stream_index_documents(spark, flat, "inc", cat)
    assert n == 2

    streamed = cat.read_graph(spark, "inc")
    batch = build_graph(synthetic_triplet_docs(docs))
    for t in TABLE_NAMES:
        # unionByName inside the merge path may reorder columns; compare on
        # a canonical (sorted-name) projection.
        cols = sorted(getattr(batch, t).columns)
        got = sorted(map(tuple, getattr(streamed, t).select(cols).collect()))
        want = sorted(map(tuple, getattr(batch, t).select(cols).collect()))
        assert got == want, f"table {t} differs between streamed and batch build"


def test_ppr_to_convergence_reaches_fixed_point(spark):
    """The production run-to-convergence loop (r4 verdict item 5) must reach
    the same fixed point the fixed-k declared queries approximate: at
    tol=1e-9 the converged ranks agree with the k=8 unrolled chain to the
    query's 6-decimal output rounding, and with one extra round to full
    12-decimal kernel precision (true fixed point)."""
    from tests.conftest import SF_SMOKE
    from vector_graph_rag_spark.queries.analytics import (
        _ppr_ranks,
        _ppr_round_step,
        _ppr_setup,
        ppr_to_convergence,
    )
    from vector_graph_rag_spark.queries.graphrag import _graph

    g = _graph(spark, SF_SMOKE)
    converged, rounds = ppr_to_convergence(spark, g, tol=1e-9, max_rounds=60)
    assert 0 < rounds < 60, f"did not converge (rounds={rounds})"

    def as_map(df, decimals):
        from pyspark.sql import functions as F

        return {r["id"]: r["v"] for r in df.select("id", F.round("rank", decimals).alias("v")).collect()}

    k8 = as_map(_ppr_ranks(spark, g, k=8, checkpoint_after=5), 6)
    got = as_map(converged, 6)
    assert set(got) == set(k8)
    diffs = [abs(got[i] - k8[i]) for i in k8]
    assert max(diffs) <= 2e-6, f"converged ranks diverge from k=8: max diff {max(diffs)}"

    # True fixed point: one more round moves nothing beyond tol.
    flagged, edges, outdeg, ns, is_seed = _ppr_setup(spark, g)
    nxt = as_map(_ppr_round_step(flagged, edges, outdeg, converged, ns, is_seed), 12)
    cur = as_map(converged, 12)
    assert max(abs(nxt[i] - cur[i]) for i in cur) < 1e-8


def test_assign_cells_zero_vector_and_empty_centroids(spark):
    """Row-local assign_cells edge parity with the old window semantics:
    a zero-norm vector's scores are all NaN (0.0/0.0) -> it lands in the
    LOWEST centroid id; empty centroids assign nothing."""
    from pyspark.sql import functions as F

    from vector_graph_rag_spark.operators.ivf import assign_cells

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 0.0]),  # zero norm -> NaN cosine against every centroid
            (3, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    cent = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0])],
        "centroid_id long, cvec array<double>",
    )
    got = {
        r["vec_id"]: r["cell_id"] for r in assign_cells(corpus, cent).collect()
    }
    assert got == {1: 10, 2: 10, 3: 20}

    empty = cent.limit(0)
    assert assign_cells(corpus, empty).count() == 0


# --- real stdlib codecs (r13): BMP + WAV through the Spark decode path -------


def test_stdlib_bmp_decode_through_spark(spark):
    """REAL image decode end-to-end: 24-bit BMPs generated by the fixture
    writer, shipped as a binary column through decode_assets(stdlib_kernel)
    — feature = mean BT.601 luminance, asserted against hand-computed
    values (pure red 76/255, pure white 1.0, black 0.0), including an
    odd-width image that exercises the 4-byte row padding."""
    from vector_graph_rag_spark.operators.multimodal import (
        decode_assets,
        encode_bmp,
        stdlib_kernel,
    )

    red = encode_bmp(2, 2, [[(255, 0, 0)] * 2] * 2)
    white = encode_bmp(3, 1, [[(255, 255, 255)] * 3])  # odd width -> padded rows
    black = encode_bmp(1, 3, [[(0, 0, 0)], [(0, 0, 0)], [(0, 0, 0)]])
    assets = spark.createDataFrame(
        [("a_red", "image", red, 2, 2, 0),
         ("b_white", "image", white, 3, 1, 0),
         ("c_black", "image", black, 1, 3, 0)],
        "asset_id string, modality string, content binary, width int, height int, duration_ms int",
    )
    rows = {r["asset_id"]: r for r in decode_assets(assets, kernel=stdlib_kernel).collect()}
    assert abs(rows["a_red"]["feature"] - 0.299) < 1e-9
    assert abs(rows["b_white"]["feature"] - 1.0) < 1e-9
    assert rows["c_black"]["feature"] == 0.0
    assert rows["b_white"]["n_bytes"] == len(white)


def test_stdlib_wav_decode_through_spark(spark):
    """REAL audio decode end-to-end: PCM WAVs through the same Spark path —
    feature = RMS amplitude; a full-scale square wave has RMS 1.0 (minus
    one LSB), silence has 0.0, and duration metadata round-trips."""
    from vector_graph_rag_spark.operators.multimodal import (
        decode_assets,
        decode_wav,
        encode_wav,
        stdlib_kernel,
    )

    square = encode_wav(8000, [32767, -32767] * 400)
    silence = encode_wav(16000, [0] * 1600)
    assets = spark.createDataFrame(
        [("sq", "audio", square, 0, 0, 100), ("si", "audio", silence, 0, 0, 100)],
        "asset_id string, modality string, content binary, width int, height int, duration_ms int",
    )
    rows = {r["asset_id"]: r for r in decode_assets(assets, kernel=stdlib_kernel).collect()}
    assert abs(rows["sq"]["feature"] - 32767.0 / 32768.0) < 1e-9
    assert rows["si"]["feature"] == 0.0
    meta = decode_wav(square)
    assert meta["sample_rate"] == 8000 and meta["duration_ms"] == 100
    assert meta["channels"] == 1


def test_stdlib_kernel_mixed_formats_and_unknown_raises(spark):
    """Magic-byte dispatch: one DataFrame mixing BMP and WAV rows decodes
    both in one mapInPandas pass; an unknown format still raises the
    documented NotImplementedError (the PIL/ffmpeg contract is unchanged)."""
    import pytest as _pytest

    from vector_graph_rag_spark.operators.multimodal import (
        decode_assets,
        encode_bmp,
        encode_wav,
        stdlib_kernel,
    )

    bmp = encode_bmp(1, 1, [[(0, 255, 0)]])
    wav = encode_wav(8000, [100] * 80)
    schema = "asset_id string, modality string, content binary, width int, height int, duration_ms int"
    mixed = spark.createDataFrame(
        [("i", "image", bmp, 1, 1, 0), ("a", "audio", wav, 0, 0, 10)], schema
    )
    rows = {r["asset_id"]: r for r in decode_assets(mixed, kernel=stdlib_kernel).collect()}
    assert abs(rows["i"]["feature"] - 0.587) < 1e-9  # pure green luma
    assert rows["a"]["feature"] > 0.0
    # JPEG and GIF now decode for real — the unknown-format gate is
    # exercised with a TIFF magic instead
    tiff_ish = spark.createDataFrame([("x", "image", b"II*\x00fake", 0, 0, 0)], schema)
    with _pytest.raises(Exception, match="NotImplementedError|codec libraries"):
        decode_assets(tiff_ish, kernel=stdlib_kernel).collect()


def test_bmp_resize_real_pixels():
    """Nearest-neighbor resize on REAL decoded pixels: a 4x4 quadrant image
    downsampled to 2x2 must pick one representative pixel per quadrant."""
    import numpy as np

    from vector_graph_rag_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
        resize_bmp_pixels,
    )

    # quadrants: TL red, TR green, BL blue, BR white (RGB)
    px = [
        [(255, 0, 0), (255, 0, 0), (0, 255, 0), (0, 255, 0)],
        [(255, 0, 0), (255, 0, 0), (0, 255, 0), (0, 255, 0)],
        [(0, 0, 255), (0, 0, 255), (255, 255, 255), (255, 255, 255)],
        [(0, 0, 255), (0, 0, 255), (255, 255, 255), (255, 255, 255)],
    ]
    decoded = decode_bmp(encode_bmp(4, 4, px))
    small = resize_bmp_pixels(decoded["pixels"], 2, 2)
    # pixels are top-down BGR
    assert (small[0, 0] == np.array([0, 0, 255])).all()      # red
    assert (small[0, 1] == np.array([0, 255, 0])).all()      # green
    assert (small[1, 0] == np.array([255, 0, 0])).all()      # blue
    assert (small[1, 1] == np.array([255, 255, 255])).all()  # white


def test_stdlib_png_decode_all_filters_through_spark(spark):
    """REAL PNG decode: a random image encoded with every RFC 2083 filter
    type (None/Sub/Up/Average/Paeth) must round-trip pixel-exactly, and
    the Spark decode path must produce the same mean-luminance feature as
    a hand computation.  Greyscale and RGBA color types also decode; a
    hand-built minimal palette PNG decodes through the PLTE LUT (r14)."""
    import random

    import numpy as np
    import pytest as _pytest

    from vector_graph_rag_spark.operators.multimodal import (
        decode_assets,
        decode_png,
        encode_png,
        stdlib_kernel,
    )

    rng = random.Random(99)
    w, h = 7, 10
    px = [
        [(rng.randrange(256), rng.randrange(256), rng.randrange(256)) for _ in range(w)]
        for _ in range(h)
    ]
    data = encode_png(w, h, px, filters=[0, 1, 2, 3, 4, 4, 3, 2, 1, 0])
    d = decode_png(data)
    assert [[tuple(int(v) for v in d["pixels"][y][x]) for x in range(w)] for y in range(h)] == px
    luma = sum(
        0.299 * r + 0.587 * g + 0.114 * b for row in px for (r, g, b) in row
    ) / (w * h * 255.0)
    assert abs(d["feature"] - luma) < 1e-9

    assets = spark.createDataFrame(
        [("p1", "image", data, w, h, 0)],
        "asset_id string, modality string, content binary, width int, height int, duration_ms int",
    )
    rows = decode_assets(assets, kernel=stdlib_kernel).collect()
    assert abs(rows[0]["feature"] - luma) < 1e-9

    # palette (color type 3) decodes through the PLTE LUT since r14 — this
    # hand-built fixture (independent of encode_png_palette) is 1x1, one
    # red palette entry, filter byte 0 + index 0
    import struct as _struct
    import zlib as _zlib

    def _chunk(tag, payload):
        return (_struct.pack(">I", len(payload)) + tag + payload
                + _struct.pack(">I", _zlib.crc32(tag + payload) & 0xFFFFFFFF))

    pal = (b"\x89PNG\r\n\x1a\n"
           + _chunk(b"IHDR", _struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
           + _chunk(b"PLTE", b"\xff\x00\x00")
           + _chunk(b"IDAT", _zlib.compress(b"\x00\x00"))
           + _chunk(b"IEND", b""))
    dp = decode_png(pal)
    assert tuple(int(v) for v in dp["pixels"][0][0]) == (255, 0, 0)
    assert abs(dp["feature"] - 0.299) < 1e-9
    # every legal color type decodes since r14 — the gate now guards
    # illegal depth/color combinations (4-bit truecolor)
    bad = (b"\x89PNG\r\n\x1a\n"
           + _chunk(b"IHDR", _struct.pack(">IIBBBBB", 1, 1, 4, 2, 0, 0, 0))
           + _chunk(b"IDAT", _zlib.compress(b"\x00\x00"))
           + _chunk(b"IEND", b""))
    with _pytest.raises(NotImplementedError, match="needs PIL"):
        decode_png(bad)


# --- r14 codec upgrades: palette PNG / 8-bit BMP + vectorized unfilter -------


def test_png_palette_roundtrip_all_depths():
    """Palette (color_type=3) PNG round-trip at every legal bit depth
    (1/2/4/8), with all five scanline filters forced on the PACKED index
    bytes — pixels must come back exactly as palette[index] and the
    feature must equal the hand-computed mean BT.601 luminance."""
    import random

    import numpy as np

    from vector_graph_rag_spark.operators.multimodal import (
        decode_png,
        encode_png_palette,
    )

    rng = random.Random(14)
    for depth in (1, 2, 4, 8):
        ncol = (1 << depth) if depth < 8 else 19
        pal = [
            (rng.randrange(256), rng.randrange(256), rng.randrange(256))
            for _ in range(ncol)
        ]
        w, h = 13, 7  # odd width exercises sub-byte packing remainders
        idx = [[rng.randrange(ncol) for _ in range(w)] for _ in range(h)]
        data = encode_png_palette(
            w, h, pal, idx, filters=[0, 1, 2, 3, 4, 1, 4], depth=depth
        )
        d = decode_png(data)
        exp = np.array(
            [[pal[idx[y][x]] for x in range(w)] for y in range(h)], dtype=np.uint8
        )
        assert d["width"] == w and d["height"] == h
        assert (d["pixels"] == exp).all(), f"depth {depth}"
        luma = float(
            (0.299 * exp[..., 0] + 0.587 * exp[..., 1] + 0.114 * exp[..., 2]).mean()
            / 255.0
        )
        assert abs(d["feature"] - luma) < 1e-9


def test_bmp8_color_table_roundtrip():
    """8-bit color-table BMP round-trip: indices map through the BGRX
    table as a LUT; odd width exercises the 4-byte row padding; an
    out-of-range index raises rather than wrapping."""
    import random

    import numpy as np
    import pytest as _pytest

    from vector_graph_rag_spark.operators.multimodal import decode_bmp, encode_bmp8

    rng = random.Random(8)
    pal = [
        (rng.randrange(256), rng.randrange(256), rng.randrange(256))
        for _ in range(40)
    ]
    w, h = 5, 6
    idx = [[rng.randrange(40) for _ in range(w)] for _ in range(h)]
    d = decode_bmp(encode_bmp8(w, h, pal, idx))
    # decode_bmp pixels are top-down BGR
    exp = np.array(
        [[pal[idx[y][x]][::-1] for x in range(w)] for y in range(h)], dtype=np.uint8
    )
    assert d["width"] == w and d["height"] == h
    assert (d["pixels"] == exp).all()

    bad = bytearray(encode_bmp8(1, 1, [(1, 2, 3)], [[0]]))
    bad[-4] = 7  # index 7 against a 1-entry table
    with _pytest.raises(ValueError, match="index out of range"):
        decode_bmp(bytes(bad))


def test_png_unfilter_twin_vs_reference_loop():
    """The vectorized/bytearray unfilter (r14) must produce byte-identical
    output to the per-byte reference loop (the r13 implementation, kept
    here as the twin oracle) on random data with random filters, across
    bpp 1/3/4."""
    import random

    import numpy as np

    from vector_graph_rag_spark.operators.multimodal import _unfilter_scanlines

    def reference_unfilter(raw, h, stride, bpp):
        out = np.zeros((h, stride), dtype=np.uint8)
        prev = np.zeros(stride, dtype=np.uint8)
        for y in range(h):
            f = raw[y * (stride + 1)]
            line = np.frombuffer(
                raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
            ).astype(np.int32)
            if f == 0:
                cur = line
            elif f == 2:
                cur = (line + prev) & 0xFF
            else:
                cur = np.zeros(stride, dtype=np.int32)
                for i in range(stride):
                    a = int(cur[i - bpp]) if i >= bpp else 0
                    b = int(prev[i])
                    c = int(prev[i - bpp]) if i >= bpp else 0
                    if f == 1:
                        cur[i] = (line[i] + a) & 0xFF
                    elif f == 3:
                        cur[i] = (line[i] + (a + b) // 2) & 0xFF
                    elif f == 4:
                        p = a + b - c
                        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                        pred = (
                            a
                            if (pa <= pb and pa <= pc)
                            else (b if pb <= pc else c)
                        )
                        cur[i] = (line[i] + pred) & 0xFF
            out[y] = cur.astype(np.uint8)
            prev = out[y].astype(np.uint8)
        return out

    rng = random.Random(42)
    for bpp in (1, 3, 4):
        w, h = 37, 23
        stride = w * bpp
        raw = bytearray()
        for _ in range(h):
            raw.append(rng.choice([0, 1, 2, 3, 4]))
            raw += bytes(rng.randrange(256) for _ in range(stride))
        raw = bytes(raw)
        got = _unfilter_scanlines(raw, h, stride, bpp)
        exp = reference_unfilter(raw, h, stride, bpp)
        assert (got == exp).all(), f"bpp={bpp}"


def test_stdlib_kernel_palette_formats_through_spark(spark):
    """Magic-byte dispatch now covers the palette variants: one DataFrame
    mixing a palette PNG and an 8-bit BMP decodes both in one mapInPandas
    pass with exact hand-computed luminance features."""
    from vector_graph_rag_spark.operators.multimodal import (
        decode_assets,
        encode_bmp8,
        encode_png_palette,
        stdlib_kernel,
    )

    # palette PNG: 2x2 all pure-green -> luma 0.587
    png = encode_png_palette(2, 2, [(0, 255, 0)], [[0, 0], [0, 0]], depth=8)
    # 8-bit BMP: 3x1 all pure-blue -> luma 0.114 (odd width -> padding)
    bmp = encode_bmp8(3, 1, [(0, 0, 255), (9, 9, 9)], [[0, 0, 0]])
    assets = spark.createDataFrame(
        [("png_pal", "image", png, 2, 2, 0), ("bmp_pal", "image", bmp, 3, 1, 0)],
        "asset_id string, modality string, content binary, width int, height int, duration_ms int",
    )
    rows = {
        r["asset_id"]: r
        for r in decode_assets(assets, kernel=stdlib_kernel).collect()
    }
    assert abs(rows["png_pal"]["feature"] - 0.587) < 1e-9
    assert abs(rows["bmp_pal"]["feature"] - 0.114) < 1e-9


# --- r14: MP4 / ISO BMFF metadata parsing (operators/mp4.py) -----------------


def test_mp4_meta_roundtrip_and_schedule():
    """Fixture MP4 (ftyp+moov skeleton) round-trips through the box
    walker: movie duration, track dimensions (16.16 fixed), codec fourcc,
    stts-derived frame count/fps/timestamps, stss keyframes — and the
    frame-sample schedule picks the latest sample at-or-before each grid
    point with the latest keyframe as the seek entry."""
    from vector_graph_rag_spark.operators.mp4 import (
        decode_mp4_meta,
        encode_mp4_meta,
        sample_frame_indices,
    )

    data = encode_mp4_meta(30000, [1000] * 90, 1920, 1080, keyframes=[1, 31, 61])
    m = decode_mp4_meta(data)
    assert m["duration_ms"] == 3000 and m["n_frames"] == 90
    assert m["width"] == 1920 and m["height"] == 1080
    assert m["fps"] == 30.0 and m["codec"] == "avc1"
    assert m["keyframe_samples"] == [1, 31, 61]
    assert m["sample_ts_ms"][:3] == [0, 33, 66]
    assert abs(m["feature"] - 0.5) < 1e-9  # fps/60

    sched = sample_frame_indices(m, every_ms=1000)
    assert [s["grid_ts_ms"] for s in sched] == [0, 1000, 2000, 3000]
    assert [s["frame_idx"] for s in sched] == [0, 30, 60, 89]
    # keyframes are samples 1/31/61 (1-based) = indices 0/30/60; the 89th
    # frame's seek point is the LAST keyframe before it
    assert [s["seek_idx"] for s in sched] == [0, 30, 60, 60]


def test_mp4_variable_frame_rate_and_no_stss():
    """Run-length stts with two delta runs (1s@25fps + 1s@50fps) decodes
    to per-sample timestamps; a missing stss box means every sample is a
    sync sample (ISO 14496-12 §8.6.2), so seek_idx == frame_idx."""
    from vector_graph_rag_spark.operators.mp4 import (
        decode_mp4_meta,
        encode_mp4_meta,
        sample_frame_indices,
    )

    data = encode_mp4_meta(1000, [40] * 25 + [20] * 50, 640, 480)
    m = decode_mp4_meta(data)
    assert m["n_frames"] == 75 and m["duration_ms"] == 2000
    assert m["keyframe_samples"] == []
    sched = sample_frame_indices(m, every_ms=500)
    assert [(s["grid_ts_ms"], s["frame_idx"]) for s in sched] == [
        (0, 0), (500, 12), (1000, 25), (1500, 50), (2000, 74),
    ]
    assert all(s["seek_idx"] == s["frame_idx"] for s in sched)


def test_mp4_malformed_raises():
    from vector_graph_rag_spark.operators.mp4 import _box, decode_mp4_meta

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not an ISO BMFF"):
        decode_mp4_meta(b"\x00\x00\x00\x08free")
    with _pytest.raises(ValueError, match="missing moov"):
        decode_mp4_meta(_box(b"ftyp", b"isom"))
    # truncated box: declared size exceeds the buffer
    with _pytest.raises(ValueError, match="malformed box"):
        decode_mp4_meta(
            _box(b"ftyp", b"isom") + b"\x00\x00\xff\xffmoov"
        )


def test_mp4_metadata_through_spark_kernel(spark):
    """MP4 rows dispatch through the same decode_assets(stdlib_kernel)
    path as images/audio — one mixed batch decodes a BMP and an MP4, the
    MP4's feature being its normalized fps."""
    from vector_graph_rag_spark.operators.mp4 import encode_mp4_meta
    from vector_graph_rag_spark.operators.multimodal import (
        decode_assets,
        encode_bmp,
        stdlib_kernel,
    )

    vid = encode_mp4_meta(24000, [1000] * 48, 1280, 720)  # 24 fps, 2 s
    bmp = encode_bmp(1, 1, [[(255, 255, 255)]])
    assets = spark.createDataFrame(
        [("v", "video", vid, 1280, 720, 2000), ("i", "image", bmp, 1, 1, 0)],
        "asset_id string, modality string, content binary, width int, height int, duration_ms int",
    )
    rows = {
        r["asset_id"]: r
        for r in decode_assets(assets, kernel=stdlib_kernel).collect()
    }
    assert abs(rows["v"]["feature"] - 24.0 / 60.0) < 1e-9
    assert abs(rows["i"]["feature"] - 1.0) < 1e-9


# --- r14: GIF codec (LZW) -----------------------------------------------------


def test_gif_roundtrip_plain_and_interlaced():
    """GIF87a/89a first-frame decode: real LZW (variable-width LSB-first
    codes), global color table, and the 4-pass interlace row order —
    pixel-exact round trips across palette sizes 1..256 and odd dims."""
    import random

    import numpy as np

    from vector_graph_rag_spark.operators.multimodal import decode_gif, encode_gif

    rng = random.Random(5)
    for interlace in (False, True):
        for (w, h, ncol) in ((13, 9, 7), (16, 16, 200), (1, 1, 1), (40, 31, 256)):
            pal = [
                (rng.randrange(256), rng.randrange(256), rng.randrange(256))
                for _ in range(ncol)
            ]
            idx = [[rng.randrange(ncol) for _ in range(w)] for _ in range(h)]
            d = decode_gif(encode_gif(w, h, pal, idx, interlace=interlace))
            exp = np.array(
                [[pal[idx[y][x]] for x in range(w)] for y in range(h)],
                dtype=np.uint8,
            )
            assert d["width"] == w and d["height"] == h
            assert (d["pixels"] == exp).all(), (w, h, ncol, interlace)
            assert d["n_frames"] == 1


def test_gif_lzw_table_overflow_clear():
    """A large random image forces the LZW table past 12 bits, so the
    encoder must emit CLEAR and the decoder must rebuild mid-stream —
    still pixel-exact."""
    import random

    import numpy as np

    from vector_graph_rag_spark.operators.multimodal import decode_gif, encode_gif

    rng = random.Random(11)
    w, h = 90, 70  # 6300 random 256-color pixels: table hits 4096
    pal = [(i, 255 - i, (i * 7) % 256) for i in range(256)]
    idx = [[rng.randrange(256) for _ in range(w)] for _ in range(h)]
    d = decode_gif(encode_gif(w, h, pal, idx))
    exp = np.array(
        [[pal[idx[y][x]] for x in range(w)] for y in range(h)], dtype=np.uint8
    )
    assert (d["pixels"] == exp).all()


def test_gif_through_spark_kernel(spark):
    from vector_graph_rag_spark.operators.multimodal import (
        decode_assets,
        encode_gif,
        stdlib_kernel,
    )

    import pytest as _pytest

    # pure blue 2x2 -> luma 0.114
    data = encode_gif(2, 2, [(0, 0, 255)], [[0, 0], [0, 0]])
    assets = spark.createDataFrame(
        [("g", "image", data, 2, 2, 0)],
        "asset_id string, modality string, content binary, width int, height int, duration_ms int",
    )
    rows = decode_assets(assets, kernel=stdlib_kernel).collect()
    assert abs(rows[0]["feature"] - 0.114) < 1e-9

    from vector_graph_rag_spark.operators.multimodal import decode_gif

    with _pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"NOTGIF")


def test_png_adam7_interlace_and_16bit():
    """r14: Adam7-interlaced PNGs round-trip pixel-exactly (seven
    independently-filtered sub-images scattered onto the grid, odd dims
    included), and 16-bit grey/RGB samples decode to their high byte —
    including a 16-bit Sub/Paeth-filtered row where the filter's
    left-neighbor distance is 6 bytes."""
    import random
    import struct as _struct
    import zlib as _zlib

    import numpy as np

    from vector_graph_rag_spark.operators.multimodal import (
        _png_chunk,
        _png_filter_line,
        decode_png,
        encode_png,
    )

    rng = random.Random(21)
    for (w, h) in ((13, 9), (8, 8), (1, 1), (3, 10), (17, 5)):
        px = [
            [(rng.randrange(256), rng.randrange(256), rng.randrange(256))
             for _ in range(w)]
            for _ in range(h)
        ]
        d = decode_png(encode_png(w, h, px, filters=[0, 1, 2, 3, 4], interlace=True))
        assert (d["pixels"] == np.array(px, dtype=np.uint8)).all(), (w, h)

    # 16-bit RGB, Sub + Paeth filtered rows (bpp = 6)
    w, h = 4, 2
    px16 = [
        [(rng.randrange(65536), rng.randrange(65536), rng.randrange(65536))
         for _ in range(w)]
        for _ in range(h)
    ]
    lines = [b"".join(_struct.pack(">HHH", *p) for p in row) for row in px16]
    raw = (
        bytes([1]) + _png_filter_line(lines[0], bytes(len(lines[0])), 1, 6)
        + bytes([4]) + _png_filter_line(lines[1], lines[0], 4, 6)
    )
    ihdr = _struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
           + _png_chunk(b"IDAT", _zlib.compress(raw)) + _png_chunk(b"IEND", b""))
    d = decode_png(png)
    exp = np.array(
        [[(r >> 8, g >> 8, b >> 8) for (r, g, b) in row] for row in px16],
        dtype=np.uint8,
    )
    assert (d["pixels"] == exp).all()


def test_png_grey_alpha_decodes_and_illegal_combo_gates():
    """r14: grey+alpha (color_type=4) decodes — luma channel kept, alpha
    dropped; an ILLEGAL depth/color combination (4-bit truecolor) still
    routes to the documented gate."""
    import struct as _struct
    import zlib as _zlib

    import numpy as np
    import pytest as _pytest

    from vector_graph_rag_spark.operators.multimodal import _png_chunk, decode_png

    raw = bytes([0, 200, 10, 30, 255])  # (grey=200, a=10), (grey=30, a=255)
    ihdr = _struct.pack(">IIBBBBB", 2, 1, 8, 4, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
           + _png_chunk(b"IDAT", _zlib.compress(raw)) + _png_chunk(b"IEND", b""))
    d = decode_png(png)
    assert (d["pixels"] == np.array([[[200] * 3, [30] * 3]], dtype=np.uint8)).all()

    bad = (b"\x89PNG\r\n\x1a\n"
           + _png_chunk(b"IHDR", _struct.pack(">IIBBBBB", 1, 1, 4, 2, 0, 0, 0))
           + _png_chunk(b"IDAT", _zlib.compress(b"\x00\x00"))
           + _png_chunk(b"IEND", b""))
    with _pytest.raises(NotImplementedError, match="needs PIL"):
        decode_png(bad)


def test_kernel_priority_pil_dispatch(monkeypatch):
    """Library-priority contract (r14 verdict, Next #3): when Pillow is
    importable, image magics route through the PIL fast path; when it is
    not (this container), the pure-Python walks decode the same bytes.
    Pinned with a fake PIL module whose decode is distinguishable from
    the stdlib result."""
    import io
    import sys
    import types

    import numpy as np
    import pytest as _pytest

    from vector_graph_rag_spark.operators import multimodal as mm
    from vector_graph_rag_spark.operators.jpeg import encode_jpeg

    bmp = mm.encode_bmp(2, 1, [[(255, 0, 0), (0, 255, 0)]])
    png = mm.encode_png(2, 1, [[(255, 0, 0), (0, 255, 0)]])
    gif = mm.encode_gif(2, 1, [(255, 0, 0), (0, 255, 0)], [[0, 1]])
    jpg = encode_jpeg(np.full((8, 8, 3), 200, np.uint8))
    wav = mm.encode_wav(8000, [0, 16384, -16384, 0])

    # This container has no Pillow: the PIL helper must gate on ImportError
    # (the dispatcher's fallback trigger), and the stdlib walks must decode.
    if "PIL" not in sys.modules:
        with _pytest.raises(ImportError):
            mm._pil_decode_image(png)
    stdlib_results = {
        name: mm.stdlib_kernel("image", data)
        for name, data in [("bmp", bmp), ("png", png), ("gif", gif), ("jpg", jpg)]
    }
    assert stdlib_results["gif"]["n_frames"] == 1

    # Inject a fake Pillow: every image magic must now take the PIL path.
    class _FakeImg:
        format = "PNG"
        n_frames = 1

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def convert(self, mode):
            assert mode == "RGB"
            return np.full((1, 2, 3), 7, np.uint8)

    fake_image_mod = types.SimpleNamespace(open=lambda fh: _FakeImg())
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image_mod)

    for data in (bmp, png, gif, jpg):
        out = mm.stdlib_kernel("image", data)
        assert out["feature"] == _pytest.approx(7 / 255.0)  # fake PIL pixels
        assert (out["width"], out["height"]) == (2, 1)
    # non-image formats never consult PIL
    assert mm.stdlib_kernel("audio", wav)["sample_rate"] == 8000

    # A PIL DATA error must propagate (it is not a fallback trigger).
    def _boom(fh):
        raise OSError("truncated image")

    fake_pil.Image = types.SimpleNamespace(open=_boom)
    with _pytest.raises(OSError, match="truncated"):
        mm.stdlib_kernel("image", png)


def test_pil_path_feature_parity_when_pillow_present():
    """When a REAL Pillow is installed (not this container), the PIL path
    must produce the same features as the stdlib walks: bit-identical for
    lossless BMP/PNG/GIF, within 2 luma levels for JPEG (libjpeg integer
    IDCT vs the float64 reference)."""
    import numpy as np
    import pytest as _pytest

    _pytest.importorskip("PIL")
    from vector_graph_rag_spark.operators import multimodal as mm
    from vector_graph_rag_spark.operators.jpeg import encode_jpeg

    bmp = mm.encode_bmp(3, 2, [[(9, 20, 31), (200, 100, 0), (1, 2, 3)],
                               [(0, 0, 0), (255, 255, 255), (50, 60, 70)]])
    png = mm.encode_png(2, 2, [[(10, 20, 30), (40, 50, 60)],
                               [(70, 80, 90), (100, 110, 120)]])
    gif = mm.encode_gif(2, 1, [(255, 0, 0), (0, 255, 0)], [[0, 1]])
    for data, dec in ((bmp, mm.decode_bmp), (png, mm.decode_png), (gif, mm.decode_gif)):
        assert mm._pil_decode_image(data)["feature"] == dec(data)["feature"]
        assert np.array_equal(mm._pil_decode_image(data)["pixels"], dec(data)["pixels"])
    jpg = encode_jpeg(np.full((16, 16, 3), 180, np.uint8), quality=95)
    from vector_graph_rag_spark.operators.jpeg import decode_jpeg

    assert abs(mm._pil_decode_image(jpg)["feature"] - decode_jpeg(jpg)["feature"]) < 2 / 255.0


def test_wav_all_integer_pcm_widths_decode():
    """r16: sample widths 1/2/3/4 all decode (previously only 16-bit) —
    the same sine encoded at each width yields the SAME normalized RMS
    feature (within the coarser widths' quantization), with `samples`
    staying in the width's raw integer scale."""
    import io
    import math
    import struct
    import wave

    from vector_graph_rag_spark.operators.multimodal import decode_wav

    sig = [math.sin(2 * math.pi * 440 * t / 8000) for t in range(800)]
    feats = {}
    for width in (1, 2, 3, 4):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(width)
            w.setframerate(8000)
            if width == 1:
                frames = bytes(int(round(s * 127)) + 128 for s in sig)
            elif width == 2:
                frames = b"".join(
                    struct.pack("<h", int(round(s * 32767))) for s in sig
                )
            elif width == 3:
                frames = b"".join(
                    int(round(s * (2**23 - 1))).to_bytes(3, "little", signed=True)
                    for s in sig
                )
            else:
                frames = b"".join(
                    struct.pack("<i", int(round(s * (2**31 - 1)))) for s in sig
                )
            w.writeframes(frames)
        d = decode_wav(buf.getvalue())
        assert d["sample_rate"] == 8000 and d["duration_ms"] == 100
        feats[width] = d["feature"]
        # raw-scale samples: peak near the width's full scale
        peak = max(abs(x) for x in d["samples"])
        full = {1: 127, 2: 32767, 3: 2**23 - 1, 4: 2**31 - 1}[width]
        assert 0.9 < peak / full <= 1.0
    assert max(feats.values()) - min(feats.values()) < 0.01  # ~1/sqrt(2) all


def test_bmp_os2_core_header_decodes():
    """r16: BITMAPCOREHEADER (OS/2 1.x, 12-byte header, 16-bit dims)
    24-bit BMPs decode — previously a PIL gate."""
    import struct

    import numpy as np

    from vector_graph_rag_spark.operators.multimodal import decode_bmp

    w_, h_ = 5, 3
    px = np.arange(w_ * h_ * 3, dtype=np.uint8).reshape(h_, w_, 3)
    row_size = (w_ * 3 + 3) & ~3
    data = bytearray()
    for y in range(h_ - 1, -1, -1):  # bottom-up storage
        row = px[y].tobytes()
        data += row + b"\x00" * (row_size - len(row))
    offset = 14 + 12
    hdr = struct.pack("<2sIHHI", b"BM", offset + len(data), 0, 0, offset)
    core = struct.pack("<IHHHH", 12, w_, h_, 1, 24)
    d = decode_bmp(bytes(hdr + core + data))
    assert (d["width"], d["height"]) == (w_, h_)
    assert (d["pixels"] == px).all()


def test_stdlib_kernel_corrupt_streams_raise_valueerror_only():
    """Hostile-input contract across EVERY stdlib codec (r16 fuzz pass —
    5000 seeded mutations over BMP/WAV/JPEG/PNG, zero hangs, zero NaN
    features, zero non-contract exception types): corrupt bytes raise
    ValueError uniformly (struct/index/key/overflow/zlib/wave internals
    normalized in stdlib_kernel; CPython's wave module raises a bare
    RuntimeError on some corrupt headers — normalized too), while
    NotImplementedError stays a capability gate.  A seeded slice runs as
    the regression, with RuntimeWarnings promoted to errors so a NaN
    feature (the old zero-area BMP hole) fails loudly."""
    import math
    import random
    import warnings

    import numpy as np

    from vector_graph_rag_spark.operators.jpeg import encode_jpeg
    from vector_graph_rag_spark.operators.multimodal import (
        encode_bmp,
        encode_png,
        encode_wav,
        stdlib_kernel,
    )

    px = [[(x * 10 % 256, y * 10 % 256, 100) for x in range(12)] for y in range(9)]
    fixtures = [
        encode_bmp(12, 9, px),
        encode_wav(8000, [int(1000 * math.sin(i / 5)) for i in range(400)]),
        encode_jpeg(np.random.RandomState(0).randint(0, 256, (16, 16, 3), np.uint8)),
        encode_png(8, 8, [[(i * 3, j * 5, 7) for i in range(8)] for j in range(8)]),
    ]
    rng = random.Random(123)
    with warnings.catch_warnings():
        warnings.filterwarnings("error", category=RuntimeWarning)
        for _ in range(500):
            s = bytearray(rng.choice(fixtures))
            op = rng.random()
            if op < 0.4:
                i = rng.randrange(len(s))
                s[i] = rng.randrange(256)
            elif op < 0.7:
                s = s[: rng.randrange(1, len(s))]
            else:
                for _ in range(rng.randrange(1, 8)):
                    i = rng.randrange(len(s))
                    s[i] = rng.randrange(256)
            try:
                out = stdlib_kernel("image", bytes(s))
                f = out.get("feature")
                assert f is None or f == f, "NaN feature from corrupt data"
            except (ValueError, NotImplementedError):
                pass

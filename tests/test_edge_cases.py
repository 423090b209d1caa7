"""Edge-case battery mirroring the reference's tests/test_graph.py:304-384:
empty text, unicode (CJK), 10K-char text, special-char ids,
delete-then-recreate the same id, and empty-seed expansion.
"""

from __future__ import annotations

from pyspark.sql import functions as F

DOCS_SCHEMA = (
    "doc_id string, text string, "
    "triplets array<struct<subject:string,predicate:string,object:string>>"
)


def _build(spark, rows):
    from vector_graph_rag_spark.graph.builder import build_graph

    return build_graph(spark.createDataFrame(rows, DOCS_SCHEMA))


def test_empty_text_tripletless_passage(spark):
    # Reference test_graph.py:304-311 — empty text, no triplets: the passage
    # row exists with empty adjacency; no entities or relations appear.
    g = _build(spark, [("p_empty", "", [])])
    from vector_graph_rag_spark.graph.builder import adjacency_arrays

    p = adjacency_arrays(g).passages.collect()
    assert len(p) == 1 and p[0].id == "p_empty" and p[0].text == ""
    assert p[0].entity_ids == [] and p[0].relation_ids == []
    assert g.entities.count() == 0 and g.relations.count() == 0
    assert g.entity_relation.count() == 0 and g.relation_passage.count() == 0
    assert g.entity_passage.count() == 0


def test_cjk_entities_collapse_to_one_normalized_key(spark):
    # processing_phrases maps every non-[A-Za-z0-9 ] char to a space
    # (extractor.py:17-28), so CJK names normalize to "" and dedup onto ONE
    # entity whose stored name is the first-seen raw form — replicating the
    # reference's behavior for unicode input (test_graph.py:344-353 keeps
    # the passage; the collapse follows from its dedup key).
    g = _build(spark, [("p_cjk", "北京 位于 中国", [("北京", "位于", "中国")])])
    ents = g.entities.collect()
    assert len(ents) == 1
    assert ents[0].name == "北京"  # first seen (subject before object)
    assert g.passages.count() == 1
    assert g.relations.count() == 1


def test_10k_char_text_roundtrip(spark):
    # Reference test_graph.py:332-342 — long text survives build unmodified.
    big = ("tok " * 2500).strip()
    g = _build(spark, [("p_big", big, [("A", "has", "B")])])
    assert g.passages.select("text").collect()[0].text == big


def test_special_char_ids(spark):
    # Reference test_graph.py:320-330 — ids with slashes/colons/emoji.
    weird = "doc/with:special🎉chars"
    g = _build(spark, [(weird, "x", [("A", "b", "C")])])
    assert g.passages.collect()[0].id == weird
    rp = g.relation_passage.collect()
    assert all(r.passage_id == weird for r in rp)


def test_delete_then_recreate_same_id(spark):
    # Reference test_graph.py:356-371 — delete a passage, recreate the same
    # id: adjacency is rebuilt, not resurrected from stale arrays.
    from vector_graph_rag_spark.graph.crud import delete_passages, upsert_passages

    g = _build(
        spark,
        [
            ("p1", "one", [("A", "knows", "B")]),
            ("p2", "two", [("B", "knows", "C")]),
        ],
    )
    g2 = delete_passages(g, ["p1"])
    assert {r.id for r in g2.passages.collect()} == {"p2"}
    recreated = spark.createDataFrame(
        [("p1", "one again", [("A", "meets", "D")])], DOCS_SCHEMA
    )
    g3 = upsert_passages(g2, recreated)
    p1 = {r.id: r for r in g3.passages.collect()}["p1"]
    assert p1.text == "one again"
    rels_of_p1 = {
        r.relation_id
        for r in g3.relation_passage.collect()
        if r.passage_id == "p1"
    }
    texts = {
        r.id: r.text for r in g3.relations.collect()
    }
    assert {texts[i] for i in rels_of_p1} == {"A meets D"}


def test_empty_seed_expansion(spark):
    # Degenerate retrieval: no seed entities → every expansion set is empty
    # (the reference's SubGraph starts empty and stays empty).
    from vector_graph_rag_spark.graph.expand import expand_subgraph

    g = _build(spark, [("p1", "one", [("A", "knows", "B")])])
    seeds = spark.createDataFrame([], "entity_id string")
    res = expand_subgraph(g, seeds, degree=2)
    assert res.entity_ids.count() == 0
    assert res.relation_ids.count() == 0
    assert res.passage_ids.count() == 0


def test_topk_skips_null_embeddings(spark):
    """Rows without an embedding are unsearchable — Milvus never indexes
    them; they must not consume top-k slots with null-score rows."""
    from vector_graph_rag_spark.operators.topk import cosine_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.6, 0.8]), (3, None), (4, [0.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id int, query_embedding array<double>"
    )
    for fn in (cosine_topk,):
        rows = fn(corpus, queries, k=4, corpus_id="vec_id", corpus_vec="embedding").collect()
        assert [r["vec_id"] for r in rows] == [1, 2, 4], fn.__name__
        assert all(r["score"] is not None for r in rows), fn.__name__


def test_topk_skips_null_query_vectors(spark):
    """A null QUERY vector is unsearchable too (Milvus rejects it); it must
    emit no hit list."""
    from vector_graph_rag_spark.operators.topk import cosine_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.6, 0.8]), (3, [0.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0])],
        "query_id int, query_embedding array<double>",
    )
    for fn in (cosine_topk,):
        rows = fn(corpus, queries, k=2, corpus_id="vec_id", corpus_vec="embedding").collect()
        assert sorted({r["query_id"] for r in rows}) == [0, 2], fn.__name__
        assert all(r["score"] is not None for r in rows), fn.__name__
        assert len(rows) == 4, fn.__name__  # k=2 hits for each live query


def test_topk_all_null_query_batch(spark):
    """All-null query batch → empty result with the contract schema."""
    from vector_graph_rag_spark.operators.topk import cosine_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id int, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(0, None)], "query_id int, query_embedding array<double>"
    )
    for fn in (cosine_topk,):
        out = fn(corpus, queries, k=3, corpus_id="vec_id", corpus_vec="embedding")
        assert out.columns == ["query_id", "vec_id", "score", "rank"], fn.__name__
        assert out.count() == 0, fn.__name__


def test_curation_queries_on_empty_tables(spark, tmp_path):
    """Every curation query must return an EMPTY result (not crash) on an
    empty corpus — k-means previously raised at plan time building a
    zero-centroid literal array (fixed: explicit empty-corpus path)."""
    from vector_graph_rag_spark.queries import load_all

    sf = str(tmp_path)
    spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf}/documents.parquet")
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf}/embeddings.parquet")

    # include_retired: kmeans_embedding_clusters rotated out of the driver
    # surface in the r13 swap but keeps its implementation + local gates;
    # semdedup_keep is its active survivor and must hold the same contract.
    qs = load_all(include_retired=True)
    for name in (
        "contamination_ngram_overlap",
        "pii_redaction_profile",
        "repetition_quality_filters",
        "sequence_packing",
        "kmeans_embedding_clusters",
        "semdedup_keep",
    ):
        assert qs[name].fn(spark, sf).count() == 0, name

    from vector_graph_rag_spark.queries.curation import semdedup_keep_list
    from vector_graph_rag_spark.queries.dedup import remove_shared_spans
    from vector_graph_rag_spark.sources.tables import load_table

    assert semdedup_keep_list(spark, sf).count() == 0
    assert remove_shared_spans(load_table(spark, sf, "documents")).count() == 0


def test_kmeans_with_fewer_vectors_than_k(spark, tmp_path):
    """n < k: every vector seeds its own cluster and self-assigns at
    distance 0."""
    from vector_graph_rag_spark.queries import load_all

    sf = str(tmp_path)
    spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf}/documents.parquet")
    spark.createDataFrame(
        [(i, [float(i)] * 64, 0) for i in range(3)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(f"{sf}/embeddings.parquet")

    rows = load_all(include_retired=True)["kmeans_embedding_clusters"].fn(spark, sf).collect()
    assert {(r["vec_id"], r["cluster"], r["dist"]) for r in rows} == {
        (0, 0, 0), (1, 1, 0), (2, 2, 0)
    }


def test_testdata_free_of_oracle_sentinel_chars(spark):
    """Several oracles encode structure with control-char sentinels the
    corpus must not contain: \\x01 (n-gram joiner), \\x02 (LM BOS),
    \\x1e/\\x1f (the BPE oracle's list_reduce fold state).  This pins the
    data contract at every test SF — if a future corpus violates it, the
    failure points here instead of at a hash mismatch."""
    from pyspark.sql import functions as F

    from vector_graph_rag_spark.sources.tables import load_table

    bad = "[\x01\x02\x1e\x1f]"
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        docs = load_table(spark, f"/root/testdata/{sf}", "documents")
        n = docs.filter(F.col("text").rlike(bad)).count()
        assert n == 0, f"{sf}: {n} documents contain oracle sentinel chars"

"""Golden end-to-end fixture on the reference's REAL evaluation corpus.

Every other graph test runs on synthetic triplets; this one ingests the
reference's actual 20-document corpus + pre-extracted OpenIE triplets
(/root/reference/evaluation/data/openie_test_sample_results_ner_gpt-3.5-turbo-1106_20.json,
loader shape evaluate.py:101-174 + build_documents_from_triplets) through
the ``add_documents_with_triplets`` dataflow (rag.py:390-435) and pins:

- entity/relation/passage counts after dedup,
- a specific entity's adjacency (albert einstein),
- a degree-1 frontier and the passage-support retrieval ranking,
- the per-step 2-hop expansion history (knowledge_graph.py:281-346).

All expected values were hand-computed with an independent pure-Python
twin of the reference semantics (normalize = processing_phrases,
entity dedup on normalized name, relation dedup on normalized "s p o").
"""

from __future__ import annotations

import hashlib
import json

import pytest

from vector_graph_rag_spark.functions.text import entity_id_str, normalize_phrase_str
from vector_graph_rag_spark.graph.builder import adjacency_arrays

CORPUS = (
    "/root/reference/evaluation/data/"
    "openie_test_sample_results_ner_gpt-3.5-turbo-1106_20.json"
)


def _rel_id_str(s: str, p: str, o: str) -> str:
    key = normalize_phrase_str(f"{s} {p} {o}")
    return hashlib.sha256(("relation:" + key).encode()).hexdigest()


def _load_documents() -> list[dict]:
    """build_documents_from_triplets parity (evaluate.py:137-174): normalize
    every triplet part with processing_phrases, drop triplets with any empty
    part, keep the raw passage text."""
    with open(CORPUS) as f:
        docs = json.load(f)["docs"]
    out = []
    for i, d in enumerate(docs):
        trips = []
        for t in d.get("extracted_triples", []):
            if isinstance(t, list) and len(t) == 3:
                s, p, o = (normalize_phrase_str(str(x)) for x in t)
                if s and p and o:
                    trips.append((s, p, o))
        out.append({"doc_id": f"doc{i:02d}", "text": d["passage"], "triplets": trips})
    return out


@pytest.fixture(scope="module")
def golden(spark):
    from vector_graph_rag_spark.graph.builder import build_graph

    docs = spark.createDataFrame(
        [(d["doc_id"], d["text"], d["triplets"]) for d in _load_documents()],
        "doc_id string, text string, "
        "triplets array<struct<subject:string,predicate:string,object:string>>",
    )
    return build_graph(docs)


def test_counts_after_dedup(golden):
    # 20 docs, 48 surviving triplet rows → 49 entities / 44 relations.
    assert golden.passages.count() == 20
    assert golden.entities.count() == 49
    assert golden.relations.count() == 44


def test_einstein_adjacency(golden):
    eid = entity_id_str("Albert Einstein")
    row = adjacency_arrays(golden).entities.filter(f"id = '{eid}'").collect()
    assert len(row) == 1
    assert row[0]["name"] == "albert einstein"  # normalized at eval load
    assert row[0]["passage_ids"] == ["doc00"]
    expected_rels = sorted(
        [
            _rel_id_str("albert einstein", "published", "general theory of relativity"),
            _rel_id_str("albert einstein", "published", "special theory of relativity"),
        ]
    )
    assert row[0]["relation_ids"] == expected_rels


def test_unicode_and_punctuation_survive_normalization(golden):
    # Real corpus text is punctuation-heavy; every entity name must already
    # be its normalized form's first-seen raw (here: pre-normalized by the
    # eval loader), and ids must be stable under re-derivation.
    for r in golden.entities.collect():
        assert r["id"] == entity_id_str(r["name"]), r["name"]


def test_d1_frontier_and_retrieval_ranking(golden, spark):
    from vector_graph_rag_spark.graph.expand import expand_subgraph
    from vector_graph_rag_spark.graph.retrieve import (
        retrieve_passages,
        seed_frontier_from_names,
    )

    # One degree = relations → entities → relations (knowledge_graph.py:303-333):
    # 6 seed-adjacent relations + 2 spawned by the new relativity entities.
    seeds = seed_frontier_from_names(spark, ["Albert Einstein", "Mona Lisa"])
    expansion = expand_subgraph(golden, seeds, degree=1)
    assert expansion.relation_ids.count() == 8
    new_names = {
        "1503",
        "1519",
        "general theory of relativity",
        "leonardo da vinci",
        "louvre museum",
        "special theory of relativity",
    }
    expected_entities = sorted(
        {entity_id_str(n) for n in new_names}
        | {entity_id_str("albert einstein"), entity_id_str("mona lisa")}
    )
    got = sorted(r["entity_id"] for r in expansion.entity_ids.collect())
    assert got == expected_entities

    # Support ranking over the full d=1 relation set:
    # doc00 (4 relations) > doc15 (3) > doc14 (2).
    top = retrieve_passages(golden, seeds, degree=1, final_top_k=3).collect()
    assert [(r["passage_id"], r["rank"], r["n_supporting_relations"]) for r in top] == [
        ("doc00", 1, 4),
        ("doc15", 2, 3),
        ("doc14", 3, 2),
    ]


def test_two_hop_expansion_history(golden, spark):
    """Per-step history parity with knowledge_graph.py:281-346 on real data:
    einstein → {general,special} theory of relativity → {1905, 1915}."""
    from vector_graph_rag_spark.graph.expand import expand_subgraph
    from vector_graph_rag_spark.graph.retrieve import seed_frontier_from_names

    seeds = seed_frontier_from_names(spark, ["Albert Einstein"])
    res = expand_subgraph(golden, seeds, degree=2, collect_history=True)
    h0, h1, h2 = res.history

    assert h0["operation"] == "init_merge" and h0["step"] == 0
    assert h0["new_relation_ids"] == sorted(
        [
            _rel_id_str("albert einstein", "published", "general theory of relativity"),
            _rel_id_str("albert einstein", "published", "special theory of relativity"),
        ]
    )
    assert (h0["total_entities"], h0["total_relations"]) == (1, 2)

    assert h1["operation"] == "expand_degree_1"
    assert h1["new_entity_ids"] == sorted(
        [
            entity_id_str("general theory of relativity"),
            entity_id_str("special theory of relativity"),
        ]
    )
    assert h1["new_relation_ids"] == sorted(
        [
            _rel_id_str("general theory of relativity", "published in", "1915"),
            _rel_id_str("special theory of relativity", "published in", "1905"),
        ]
    )
    assert (h1["total_entities"], h1["total_relations"]) == (3, 4)

    assert h2["operation"] == "expand_degree_2"
    assert h2["new_entity_ids"] == sorted([entity_id_str("1905"), entity_id_str("1915")])
    assert h2["new_relation_ids"] == []
    assert (h2["total_entities"], h2["total_relations"]) == (5, 4)

    # History is bookkeeping only — the expanded sets themselves must agree.
    assert res.entity_ids.count() == 5
    assert res.relation_ids.count() == 4
    assert sorted(r["passage_id"] for r in res.passage_ids.collect()) == ["doc00"]


def test_two_hop_history_is_one_collect_per_step(golden, spark, monkeypatch):
    """History bookkeeping rides ONE tagged-union action per step (1 at
    step 0 + 1 per hop = 3 at degree=2), not one per id-list (was 3+2+2)
    — the expansion result itself stays lazy (zero collects without
    collect_history)."""
    # Patch the CONCRETE class: in PySpark 4 `pyspark.sql.DataFrame` is the
    # abstract facade and .collect is overridden on the classic subclass.
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # older pyspark
        from pyspark.sql import DataFrame

    from vector_graph_rag_spark.graph.expand import expand_subgraph
    from vector_graph_rag_spark.graph.retrieve import seed_frontier_from_names

    calls = []
    real_collect = DataFrame.collect
    monkeypatch.setattr(
        DataFrame, "collect", lambda self: (calls.append(1), real_collect(self))[1]
    )
    seeds = seed_frontier_from_names(spark, ["Albert Einstein"])
    res = expand_subgraph(golden, seeds, degree=2, collect_history=True)
    assert len(res.history) == 3
    assert len(calls) == 3  # one action per history step

    calls.clear()
    expand_subgraph(golden, seeds, degree=2, collect_history=False)
    assert calls == []  # no history → fully lazy


def test_golden_corpus_through_api(spark, tmp_path_factory):
    """The real 20-doc corpus through the HTTP surface: POST /add_documents
    with pre-extracted triplets → /graph stats → /query with history —
    the add_documents_with_triplets dataflow end-to-end (rag.py:390-435)."""
    pytest.importorskip("flask")
    from vector_graph_rag_spark.api import create_app

    docs = [
        {
            "doc_id": d["doc_id"],
            "text": d["text"],
            "triplets": [
                {"subject": s, "predicate": p, "object": o}
                for (s, p, o) in d["triplets"]
            ],
        }
        for d in _load_documents()
    ]
    root = str(tmp_path_factory.mktemp("golden_api"))
    app = create_app(spark, catalog_root=root)
    app.config["TESTING"] = True
    with app.test_client() as c:
        r = c.post("/add_documents", json={"graph_name": "golden", "documents": docs})
        body = r.get_json()
        assert (body["passages"], body["entities"], body["relations"]) == (20, 49, 44)

        q = c.post(
            "/query",
            json={
                "graph_name": "golden",
                "seed_entities": ["Albert Einstein", "Mona Lisa"],
                "degree": 1,
                "top_k": 3,
                "include_history": True,
            },
        ).get_json()
        assert [(p["passage_id"], p["n_supporting_relations"]) for p in q["passages"]] == [
            ("doc00", 4),
            ("doc15", 3),
            ("doc14", 2),
        ]
        hist = q["expansion_history"]
        assert hist[0]["operation"] == "init_merge"
        assert len(hist[0]["added_relation_ids"]) == 6  # seed-adjacent relations
        assert hist[1]["operation"] == "expand_degree_1"
        assert len(hist[1]["added_entity_ids"]) == 6
        assert (hist[1]["total_entities"], hist[1]["total_relations"]) == (8, 8)


def test_golden_eval_recall_on_real_questions(golden, spark):
    """The reference's evaluation flow (evaluate.py:177-229) on its REAL
    10-question set: deterministic mock NER (exact entity-name match in the
    question), batched d=1 expansion + support ranking as one DataFrame,
    titles = first passage line, recall@k vs supporting_facts gold titles.
    The corpus is built so graph retrieval resolves every question:
    recall@2 must be 1.0 on all 10 (verified against an independent twin)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from vector_graph_rag_spark.functions.text import normalize_phrase_str

    with open("/root/reference/evaluation/data/test_sample.json") as f:
        questions = json.load(f)

    ent_names = {r["id"]: r["name"] for r in golden.entities.select("id", "name").collect()}
    seed_rows = []
    for q in questions:
        qn = " " + normalize_phrase_str(q["question"]) + " "
        for eid, name in ent_names.items():
            if " " + normalize_phrase_str(name) + " " in qn:
                seed_rows.append((q["_id"], eid))
    seeds = spark.createDataFrame(seed_rows, "qid string, entity_id string")

    er, rp = golden.entity_relation, golden.relation_passage
    step0 = seeds.join(er, "entity_id").select("qid", "relation_id").distinct()
    hop_ents = step0.join(er, "relation_id").select("qid", "entity_id").distinct()
    new_ents = hop_ents.join(seeds, ["qid", "entity_id"], "left_anti")
    hop_rels = new_ents.join(er, "entity_id").select("qid", "relation_id")
    rels = step0.unionByName(hop_rels).distinct()
    w = Window.partitionBy("qid").orderBy(F.desc("n"), F.asc("passage_id"))
    top = (
        rels.join(rp, "relation_id")
        .groupBy("qid", "passage_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .join(golden.passages.select(F.col("id").alias("passage_id"), "text"), "passage_id")
        .select("qid", "rank", F.split("text", "\n")[0].alias("title"))
        .collect()
    )
    by_q: dict[str, list[tuple[int, str]]] = {}
    for r in top:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["title"].strip()))

    for q in questions:
        gold_titles = {sf[0] for sf in q["supporting_facts"]}
        ranked = [t for _, t in sorted(by_q.get(q["_id"], []))]
        hits_at_2 = sum(1 for t in ranked[:2] if t in gold_titles)
        assert hits_at_2 / len(gold_titles) == 1.0, (
            q["_id"], ranked[:5], sorted(gold_titles))
    # spot-pin one full ranking (computed with the independent twin)
    assert [t for _, t in sorted(by_q["test_sample_006"])][:3] == [
        "Solar System", "Mercury", "Laws of Motion"]


def test_real_ner_cache_tsv_loader(spark):
    """The reference's actual HippoRAG-format NER cache file parses with
    exact processing_phrases parity (extractor.py:296-314, 334-337)."""
    from vector_graph_rag_spark.llm.runner import load_ner_cache_tsv

    rows = load_ner_cache_tsv(
        spark,
        "/root/reference/evaluation/data/ner_cache/sample_queries.named_entity_output.tsv",
    ).collect()
    assert len(rows) == 1
    assert rows[0]["question"] == "Which Stanford University professor works on Alzheimer's?"
    assert rows[0]["entities"] == ["stanford university", "alzheimer s"]


def test_sparse_term_retrieval_on_real_corpus(spark):
    """Sparse term-frequency retrieval (queries/search_api.py kernels) over
    the reference's REAL 20 passages: querying a real evaluation question's
    text must rank a passage about its subject first, the stored inverted
    index must return exactly the in-query scores, and every score must
    match a pure-Python tf dot product."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vector_graph_rag_spark.functions.text import tokens
    from vector_graph_rag_spark.queries.search_api import (
        sparse_index_search,
        write_term_index,
    )

    docs = _load_documents()
    ddf = spark.createDataFrame(
        [(i, d["text"]) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    # two probes: a natural question (stopword-dominated on a raw tf dot —
    # the honest behavior BM25's idf exists to fix) pins engine == twin;
    # the content-terms query pins real topical relevance
    question = "Who was the German-born theoretical physicist that won the Nobel Prize in Physics?"
    qdf = spark.createDataFrame(
        [(0, question), (1, "radioactivity polonium discovered Curie")],
        "query_id long, text string",
    )

    index = tempfile.mkdtemp(prefix="vgr_golden_terms_")
    try:
        write_term_index(ddf, index)
        rows = sparse_index_search(spark, index, qdf, k=5).collect()
    finally:
        shutil.rmtree(index, ignore_errors=True)
    stored = [r for r in rows if r["query_id"] == 0]
    content = sorted(
        (r for r in rows if r["query_id"] == 1), key=lambda r: r["rank"]
    )

    # pure-Python twin: whitespace tf dot product, ties to lowest doc_id
    def tf(text):
        out = {}
        for t in text.split(" "):
            if t:
                out[t] = out.get(t, 0) + 1
        return out

    qt = tf(question)
    scores = []
    for i, d in enumerate(docs):
        dt = tf(d["text"])
        s = sum(qt[t] * dt[t] for t in qt if t in dt)
        if s > 0:
            scores.append((-s, i))
    expected = sorted(scores)[:5]
    got = sorted(((-r["score"], r["doc_id"]) for r in stored))
    assert got == expected
    # content-terms probe: the top passage is about Curie/polonium
    top_doc = docs[content[0]["doc_id"]]["text"].lower()
    assert "curie" in top_doc or "polonium" in top_doc


def test_semdedup_drops_duplicated_real_passage(spark):
    """SemDeDup (queries/curation.semdedup_keep_list) over the reference's
    REAL 20 passages with one passage injected TWICE under a higher id:
    the mock-embedding twins land in the same k-means cluster with cosine
    1.0, so the keep-lowest-id rule must drop exactly the re-injected copy
    and keep every original."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vector_graph_rag_spark.functions.embedding import mock_embedding
    from vector_graph_rag_spark.queries.curation import semdedup_keep_list

    docs = _load_documents()
    rows = [(i, d["text"]) for i, d in enumerate(docs)]
    rows.append((100, docs[4]["text"]))  # exact semantic duplicate of id 4
    # dim=64 to match the embeddings-table geometry the kmeans kernel
    # assumes (_KM_DIM); the default dim-8 mock vectors would zip against
    # 64-wide centroids
    emb = spark.createDataFrame(rows, "vec_id long, text string").select(
        "vec_id", mock_embedding("text", dim=64).alias("embedding")
    )
    # semdedup_keep_list reads the embeddings table from a dir — stage one
    tmp = tempfile.mkdtemp(prefix="vgr_golden_semdedup_")
    try:
        emb.write.mode("overwrite").parquet(os.path.join(tmp, "embeddings.parquet"))
        keep = {
            r["vec_id"]: r["keep"]
            for r in semdedup_keep_list(spark, tmp, threshold=0.999999).collect()
        }
        assert len(keep) == 21
        assert keep[100] is False, "the injected duplicate must be dropped"
        assert all(keep[i] for i in range(20)), "every original passage kept"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_golden_prompts_through_runner_pipeline(golden, spark):
    """r12 verdict, Next #7 — the REAL prompt assembly + cache-key paths
    (llm/prompts.py) exercised THROUGH llm/runner.llm_map_operator at the
    pipeline level on the reference's real 20-doc corpus, with the MOCK
    backend: extraction prompts assembled distributed (JVM concat must
    equal the Python constant assembly), a pre-seeded cache table splits
    hits from misses inside one DataFrame plan, the mock runner answers
    ONLY the misses, the rerank leg runs format→respond→line-repair on
    real relations, and the answer leg is a 100% cache hit built from real
    retrieved passages.  Message sequences are asserted against the same
    constants tests/test_prompts.py pins at the unit level."""
    import pyspark.sql.functions as F

    from vector_graph_rag_spark.graph.retrieve import (
        retrieve_passages,
        seed_frontier_from_names,
    )
    from vector_graph_rag_spark.llm import prompts as P
    from vector_graph_rag_spark.llm.rerank import (
        format_relations,
        parse_rerank_response,
    )
    from vector_graph_rag_spark.llm.runner import MockModelRunner, llm_map_operator

    docs = _load_documents()

    # --- extraction leg: distributed key assembly == llm/prompts assembly.
    ddf = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], "doc_id string, text string"
    )
    prefix = (
        f"{P.EXTRACTION_SYSTEM_PROMPT}\n\n{P.EXTRACTION_EXAMPLE_INPUT}\n\n"
        f"{P.EXTRACTION_EXAMPLE_OUTPUT}\n\nText: "
    )
    prompts_df = ddf.withColumn("prompt", F.concat(F.lit(prefix), F.col("text")))
    first = prompts_df.filter("doc_id = 'doc00'").collect()[0]
    assert first["prompt"] == P.extraction_cache_key(docs[0]["text"])
    msgs = P.extraction_messages(docs[0]["text"])
    assert [m["role"] for m in msgs] == ["system", "user", "assistant", "user"]
    assert msgs[-1]["content"] == "Text: " + docs[0]["text"]

    def _payload(d: dict) -> str:
        return json.dumps({"triplets": [list(t) for t in d["triplets"]]})

    # cache pre-seeded with the EVEN docs (a prior run already extracted
    # them); the mock fixture holds ONLY the odd docs, so any cache-routing
    # bug (a hit reaching the runner, a miss served stale) breaks a row.
    cache = spark.createDataFrame(
        [
            (hashlib.md5(P.extraction_cache_key(d["text"]).encode()).hexdigest(), _payload(d))
            for i, d in enumerate(docs)
            if i % 2 == 0
        ],
        "prompt_md5 string, response string",
    )
    fixture = {
        P.extraction_cache_key(d["text"]): _payload(d)
        for i, d in enumerate(docs)
        if i % 2 == 1
    }
    out = llm_map_operator(
        prompts_df, "prompt", MockModelRunner(fixture, default_prefix="MISSED-FIXTURE:"),
        cache=cache,
    ).collect()
    assert len(out) == len(docs) == 20
    assert {r["doc_id"] for r in out if r["from_cache"]} == {
        f"doc{i:02d}" for i in range(0, 20, 2)
    }
    for r in out:
        assert json.loads(r["response"])["triplets"] == [
            list(t) for t in docs[int(r["doc_id"][3:])]["triplets"]
        ], r["doc_id"]

    # --- rerank leg: real relations → format → runner → line repair.
    question = "Who developed the theory of relativity?"
    rels = golden.relations.orderBy("id").limit(5).collect()
    rel_ids = [r["id"] for r in rels]
    rel_texts = [r["text"] for r in rels]
    desc = format_relations(rel_ids, rel_texts)
    rmsgs = P.rerank_messages(question, desc)
    assert [m["role"] for m in rmsgs] == ["user", "assistant"] * 3 + ["user"]
    rkey = P.rerank_cache_key(question, desc)
    assert rkey.endswith(rmsgs[-1]["content"])  # examples prepended, final turn verbatim
    # response selects row 0 by id and row 2 via a hallucinated id whose
    # text matches exactly — the repair path must map it back.
    resp = json.dumps(
        {
            "useful_relations": [
                f"[{rel_ids[0]}] {rel_texts[0]}",
                f"[hallucinated-id] {rel_texts[2]}",
            ]
        }
    )
    rout = llm_map_operator(
        spark.createDataFrame([(question, rkey)], "question string, prompt string"),
        "prompt",
        MockModelRunner({rkey: resp}),
    ).collect()
    assert len(rout) == 1 and rout[0]["from_cache"] is False
    assert parse_rerank_response(rout[0]["response"], rel_ids, rel_texts) == [
        rel_ids[0],
        rel_ids[2],
    ]

    # --- answer leg: REAL retrieved passages → answer key → pure cache hit.
    seeds = seed_frontier_from_names(spark, ["Albert Einstein", "Mona Lisa"])
    top = retrieve_passages(golden, seeds, degree=1, final_top_k=3)
    ptexts = [
        r["text"]
        for r in top.join(
            golden.passages.select(F.col("id").alias("passage_id"), "text"),
            "passage_id",
        )
        .orderBy("rank")
        .collect()
    ]
    assert len(ptexts) == 3 and ptexts[0].startswith("Albert Einstein")
    akey = P.answer_cache_key(question, ptexts)
    assert P.answer_messages(question, ptexts) == [{"role": "user", "content": akey}]
    acache = spark.createDataFrame(
        [(hashlib.md5(akey.encode()).hexdigest(), "Albert Einstein")],
        "prompt_md5 string, response string",
    )
    aout = llm_map_operator(
        spark.createDataFrame([(akey,)], "prompt string"),
        "prompt",
        MockModelRunner({}, default_prefix="MISS:"),
        cache=acache,
    ).collect()
    assert len(aout) == 1
    assert aout[0]["from_cache"] is True and aout[0]["response"] == "Albert Einstein"


def test_golden_full_retrieve_with_rerank_recall5(golden, spark):
    """The reference's evaluate-with-reranking protocol end-to-end on its
    REAL 10-question sample (evaluate.py:440-543 + rag.py:587-647 with
    use_reranking=True): mock-NER seeds → batched d=1 expansion →
    candidates in lexicographic relation-id order (the no-eviction branch,
    retriever.py:263-265) → REAL rerank prompt assembly through
    llm_map_operator (one batched call for all 10 questions) → JSON parse
    + hallucinated-id line repair → passage fan-out in SELECTION order
    with first-seen dedup (rag.py:161-194) → titles → calculate_recall@5
    (evaluate.py:177-197).  The mock LLM selects relations sharing a
    non-stopword token with the question (capped at the reference's
    num_select=5); one response deliberately carries a hallucinated id so
    the repair path runs inside the protocol, not just in a unit test.
    Pinned: recall@5 == 1.0 on every question (verified by the
    driver-side twin in /tmp prototype before pinning)."""
    import pyspark.sql.functions as F

    from vector_graph_rag_spark.functions.text import normalize_phrase_str
    from vector_graph_rag_spark.llm import prompts as P
    from vector_graph_rag_spark.llm.rerank import (
        format_relations,
        parse_rerank_response,
    )
    from vector_graph_rag_spark.llm.runner import MockModelRunner, llm_map_operator

    with open("/root/reference/evaluation/data/test_sample.json") as f:
        questions = json.load(f)

    # mock NER (the LLM-NER stand-in): exact normalized entity-name
    # containment in the question, same as the recall@2 test above.
    ent = {r["id"]: r["name"] for r in golden.entities.select("id", "name").collect()}
    seed_rows = []
    for q in questions:
        qn = " " + normalize_phrase_str(q["question"]) + " "
        for eid, name in ent.items():
            if " " + normalize_phrase_str(name) + " " in qn:
                seed_rows.append((q["_id"], eid))
    seeds = spark.createDataFrame(seed_rows, "qid string, entity_id string")

    # batched d=1 expansion (relations -> entities -> relations)
    er, rp = golden.entity_relation, golden.relation_passage
    step0 = seeds.join(er, "entity_id").select("qid", "relation_id").distinct()
    hop_ents = step0.join(er, "relation_id").select("qid", "entity_id").distinct()
    new_ents = hop_ents.join(seeds, ["qid", "entity_id"], "left_anti")
    hop_rels = new_ents.join(er, "entity_id").select("qid", "relation_id")
    rels = step0.unionByName(hop_rels).distinct()
    cand = (
        rels.join(
            golden.relations.select(F.col("id").alias("relation_id"), "text"),
            "relation_id",
        )
        .orderBy("qid", "relation_id")
        .collect()
    )
    by_q: dict[str, list[tuple[str, str]]] = {}
    for r in cand:
        by_q.setdefault(r["qid"], []).append((r["relation_id"], r["text"]))

    stop = {
        "the", "a", "of", "and", "to", "in", "is", "on", "for", "with",
        "when", "did", "his", "was", "what", "who", "which", "where",
        "how", "by",
    }

    def relevant(qtext: str, rtext: str) -> bool:
        qt = {t for t in normalize_phrase_str(qtext).split(" ") if len(t) > 3 and t not in stop}
        rt = {t for t in normalize_phrase_str(rtext).split(" ") if len(t) > 3 and t not in stop}
        return bool(qt & rt)

    prompts, fixture, meta = [], {}, {}
    for qi, q in enumerate(questions):
        qid, qtext = q["_id"], q["question"]
        ids = [c[0] for c in by_q.get(qid, [])]
        texts = [c[1] for c in by_q.get(qid, [])]
        key = P.rerank_cache_key(qtext, format_relations(ids, texts))
        sel = [(i, t) for i, t in zip(ids, texts) if relevant(qtext, t)][:5]
        lines = [f"[{i}] {t}" for i, t in sel]
        if qi == 0 and lines:  # exercise the repair path inside the protocol
            _, t0 = sel[0]
            lines[0] = f"[hallucinated-{qid}] {t0}"
        fixture[key] = json.dumps({"useful_relations": lines})
        prompts.append((qid, key))
        meta[qid] = (ids, texts, [i for i, _ in sel])
    pdf = spark.createDataFrame(prompts, "qid string, prompt string")
    out = llm_map_operator(
        pdf, "prompt", MockModelRunner(fixture, default_prefix="MISSED-FIXTURE:")
    ).collect()
    assert len(out) == 10 and all(not r["from_cache"] for r in out)
    sel_by_q = {}
    for r in out:
        ids, texts, expected_sel = meta[r["qid"]]
        got = parse_rerank_response(r["response"], ids, texts)
        assert got == expected_sel, r["qid"]  # repair restored the true id
        sel_by_q[r["qid"]] = got

    # passage fan-out in selection order, first-seen dedup, titles, recall@5
    rp_map: dict[str, list[str]] = {}
    for r in rp.collect():
        rp_map.setdefault(r["relation_id"], []).append(r["passage_id"])
    ptext = {r["id"]: r["text"] for r in golden.passages.select("id", "text").collect()}
    for q in questions:
        qid = q["_id"]
        seen: set[str] = set()
        titles: list[str] = []
        for rid in sel_by_q[qid]:
            for pid in sorted(rp_map.get(rid, [])):
                if pid not in seen:
                    seen.add(pid)
                    titles.append(ptext[pid].split("\n")[0].strip())
        gold = {sf[0] for sf in q["supporting_facts"]}
        hits = sum(1 for t in titles[:5] if t in gold)
        assert hits / len(gold) == 1.0, (qid, titles[:5], sorted(gold))

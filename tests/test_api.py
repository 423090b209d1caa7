"""API-layer tests — full route surface via Flask's test client.

Mirrors the reference's API contract (src/vector_graph_rag/api/app.py,
tests/test_api.py): index → query → inspect → mutate → delete, all
against one throwaway graph catalog.
"""

from __future__ import annotations

import pytest

flask = pytest.importorskip("flask")

DOCS = [
    # Derived triplets: (alpha owns beta) (beta feeds gamma) (gamma likes delta) + (src publishes alpha)
    {"doc_id": "d1", "text": "alpha owns beta beta feeds gamma gamma likes delta", "source": "web"},
    {"doc_id": "d2", "text": "beta rules epsilon epsilon sees zeta zeta meets eta", "source": "web"},
    {
        "doc_id": "d3",
        "text": "pre-extracted document",
        "triplets": [
            {"subject": "alpha", "predicate": "knows", "object": "omega"},
            {"subject": "omega", "predicate": "hates", "object": "zeta"},
        ],
    },
]


@pytest.fixture(scope="module")
def client(spark, tmp_path_factory):
    from vector_graph_rag_spark.api import create_app

    root = str(tmp_path_factory.mktemp("api_graphs"))
    app = create_app(spark, catalog_root=root)
    app.config["TESTING"] = True
    with app.test_client() as c:
        yield c


def test_health_and_settings(client):
    assert client.get("/health").get_json()["status"] == "healthy"
    s = client.get("/settings").get_json()
    assert s["entity_top_k"] == 20 and s["final_top_k"] == 3


def test_add_documents_builds_graph(client):
    r = client.post("/add_documents", json={"graph_name": "g1", "documents": DOCS})
    body = r.get_json()
    assert r.status_code == 200
    assert body["graph_name"] == "g1"
    assert body["passages"] == 3
    assert body["entities"] > 0 and body["relations"] > 0
    names = [g["name"] for g in client.get("/graphs").get_json()["graphs"]]
    assert "g1" in names and "g1__staging" not in names


def test_stats_and_neighbors(client):
    stats = client.get("/graph/g1/stats").get_json()
    assert stats["passages"] == 3
    from vector_graph_rag_spark.functions.text import entity_id_str

    beta = entity_id_str("beta")
    nbrs = client.get(f"/graph/g1/neighbors/{beta}").get_json()["neighbors"]
    nbr_names = {n["name"] for n in nbrs}
    # beta: alpha (owns), gamma (feeds), epsilon (rules), web (publishes d2? no — publishes links source→tok1)
    assert {"alpha", "gamma", "epsilon"} <= nbr_names


def test_query_returns_ranked_passages(client):
    r = client.post(
        "/query",
        json={"graph_name": "g1", "seed_entities": ["beta"], "top_k": 3, "degree": 1},
    )
    passages = r.get_json()["passages"]
    assert passages, "expected at least one passage"
    assert passages[0]["rank"] == 1
    ids = [p["passage_id"] for p in passages]
    assert "d1" in ids and "d2" in ids
    # missing seeds → 400; unknown graph → 404
    assert client.post("/query", json={"graph_name": "g1"}).status_code == 400
    assert (
        client.post("/query", json={"graph_name": "nope", "seed_entities": ["x"]}).status_code
        == 404
    )


def test_query_include_history(client):
    """Reference parity: /query can return the per-step expansion history
    (reference app.py:606-618 ExpansionStepSchema — added_*_ids keys)."""
    r = client.post(
        "/query",
        json={
            "graph_name": "g1",
            "seed_entities": ["beta"],
            "degree": 2,
            "include_history": True,
        },
    )
    hist = r.get_json()["expansion_history"]
    assert [h["step"] for h in hist] == [0, 1, 2]
    assert hist[0]["operation"] == "init_merge"
    assert hist[0]["added_entity_ids"] == [] and hist[0]["added_relation_ids"]
    assert hist[1]["operation"] == "expand_degree_1"
    assert hist[1]["added_entity_ids"], "hop 1 must add entities"
    # Totals are running set sizes — monotone nondecreasing.
    totals = [(h["total_entities"], h["total_relations"]) for h in hist]
    assert totals == sorted(totals)
    # History is opt-in: the default response has no expansion_history key.
    r2 = client.post("/query", json={"graph_name": "g1", "seed_entities": ["beta"]})
    assert "expansion_history" not in r2.get_json()


def test_document_crud_roundtrip(client):
    assert client.get("/documents/d1", query_string={"graph_name": "g1"}).get_json()[
        "doc_id"
    ] == "d1"
    page = client.get(
        "/documents", query_string={"graph_name": "g1", "limit": 2, "offset": 1}
    ).get_json()["documents"]
    assert [d["doc_id"] for d in page] == ["d2", "d3"]

    # Keyset cursor (the scale path): same page via after=d1, next_cursor
    # composes to the rest of the listing, exhaustion yields null.
    r = client.get(
        "/documents", query_string={"graph_name": "g1", "limit": 2, "after": "d1"}
    ).get_json()
    assert [d["doc_id"] for d in r["documents"]] == ["d2", "d3"]
    assert r["next_cursor"] == "d3"
    r2 = client.get(
        "/documents",
        query_string={"graph_name": "g1", "limit": 2, "after": r["next_cursor"]},
    ).get_json()
    assert r2["documents"] == [] or len(r2["documents"]) < 2
    assert r2["next_cursor"] is None
    assert client.get(
        "/documents", query_string={"graph_name": "g1", "limit": 0}
    ).status_code == 400

    client.put(
        "/documents/d2",
        json={"graph_name": "g1", "text": "theta greets iota iota joins kappa kappa exits theta"},
    )
    assert "theta" in client.get(
        "/documents/d2", query_string={"graph_name": "g1"}
    ).get_json()["text"]

    client.delete("/documents/d3", query_string={"graph_name": "g1"})
    assert client.get("/documents/d3", query_string={"graph_name": "g1"}).status_code == 404
    assert client.get("/graph/g1/stats").get_json()["passages"] == 2


def test_delete_graph(client):
    client.post("/add_documents", json={"graph_name": "g2", "documents": DOCS[:1]})
    assert client.delete("/graph/g2").get_json()["deleted"] == "g2"
    assert client.delete("/graph/g2").status_code == 404


def test_graph_missing_a_table_is_409(spark, tmp_path):
    """A five-table graph (written before ``entity_passage`` was stored)
    answers 409 with the way out, not a 500 from the parquet reader."""
    import shutil

    from vector_graph_rag_spark.api import create_app

    app = create_app(spark, catalog_root=str(tmp_path))
    app.config["TESTING"] = True
    c = app.test_client()
    r = c.post("/add_documents", json={"graph_name": "old", "documents": DOCS[:1]})
    assert r.status_code == 200
    shutil.rmtree(tmp_path / "old" / "entity_passage.parquet")
    r = c.post(
        "/query",
        json={"graph_name": "old", "seed_entities": ["beta"], "top_k": 3, "degree": 1},
    )
    assert r.status_code == 409
    err = r.get_json()["error"]
    assert "entity_passage" in err and "delete and re-add the graph" in err


def test_import_route(client, tmp_path_factory):
    d = tmp_path_factory.mktemp("import_files")
    (d / "a.txt").write_text("red owns blue blue feeds green green likes gray tail tokens")
    (d / "b.md").write_text("tiny doc")  # <9 tokens -> triplet-less passage
    r = client.post(
        "/import",
        json={
            "graph_name": "imp",
            "sources": [str(d / "a.txt"), str(d / "b.md"), str(d / "c.pdf"), "https://x.test/p"],
        },
    ).get_json()
    assert r["imported"] == 2
    assert {s["kind"] for s in r["skipped"]} <= {"pdf", "url", "unsupported"}
    assert len(r["skipped"]) == 2
    stats = client.get("/graph/imp/stats").get_json()
    assert stats["passages"] == 2 and stats["relations"] > 0
    assert client.post("/import", json={"graph_name": "imp"}).status_code == 400
    assert client.post("/import", json={"graph_name": "imp", "sources": [1]}).status_code == 400


def test_import_sources_come_back_byte_identical(client):
    """Import paths never pass through SQL text, where the parser would
    substitute ``${env:X}`` and ``${<conf key>}`` before parsing."""
    sources = ["x/${env:HOME}.zzz", "${spark.app.name}.zzz", "/no/such/${system:user.dir}.txt"]
    r = client.post("/import", json={"graph_name": "imp_sub", "sources": sources})
    assert r.status_code == 200
    assert sorted(s["source"] for s in r.get_json()["skipped"]) == sorted(sources)


@pytest.mark.parametrize("bad", ["g1__aside", "g1__staging", "", ".."])
def test_reserved_graph_names_are_400(client, bad):
    before = client.get("/graphs").get_json()["graphs"]
    r = client.post("/add_documents", json={"graph_name": bad, "documents": DOCS[:1]})
    assert r.status_code == 400 and "invalid graph name" in r.get_json()["error"]
    assert client.get("/graphs").get_json()["graphs"] == before


def test_upload_route(client):
    import io

    r = client.post(
        "/upload",
        data={
            "graph_name": "up",
            "files": [
                (io.BytesIO(b"ant bites bee bee stings cat cat chases dog end"), "doc1.txt"),
                (io.BytesIO(b"\x00\x01binary"), "img.png"),
            ],
        },
        content_type="multipart/form-data",
    ).get_json()
    assert r["imported"] == 1
    assert r["skipped"] == [{"source": "img.png", "kind": "unsupported"}]
    passages = client.get("/documents", query_string={"graph_name": "up"}).get_json()[
        "documents"
    ]
    assert len(passages) == 1 and "ant bites bee" in passages[0]["text"]


@pytest.fixture()
def search_graph(client):
    """Search tests run after test_delete_graph has dropped g1 — give them
    their own graph, built once per module."""
    names = [g["name"] for g in client.get("/graphs").get_json()["graphs"]]
    if "gsearch" not in names:
        r = client.post(
            "/add_documents", json={"graph_name": "gsearch", "documents": DOCS}
        )
        assert r.status_code == 200
    return "gsearch"


def test_search_topk_mode(client, search_graph):
    """POST /search mode=topk: a query equal to an indexed passage's text
    must rank that passage first with score 1.0 (same deterministic
    embedding on both sides)."""
    r = client.post(
        "/search",
        json={
            "graph_name": "gsearch",
            "queries": ["alpha owns beta beta feeds gamma gamma likes delta"],
            "mode": "topk",
            "top_k": 2,
        },
    )
    assert r.status_code == 200
    body = r.get_json()
    assert body["mode"] == "topk"
    hits = body["hits"]
    assert hits[0]["passage_id"] == "d1" and hits[0]["rank"] == 1
    assert abs(hits[0]["score"] - 1.0) < 1e-9
    assert len(hits) == 2 and hits[1]["rank"] == 2


def test_search_topk_py4j_round_trips_are_bounded(client, search_graph, monkeypatch):
    """A warm /search topk request builds its plan in a bounded number of
    py4j round trips: the embedding, cosine and window trees are built
    once per app, not per request (about 3,900 round trips when they
    were rebuilt every time)."""
    import gc

    import py4j.clientserver as cs

    body = {
        "graph_name": "gsearch",
        "queries": ["alpha owns beta beta feeds gamma gamma likes delta"],
        "mode": "topk",
        "top_k": 2,
    }
    assert client.post("/search", json=body).status_code == 200  # warm
    calls = [0]
    real = cs.ClientServerConnection.send_command

    def counting(self, command):
        calls[0] += 1
        return real(self, command)

    gc.collect()
    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)
    r = client.post("/search", json=body)
    monkeypatch.undo()
    assert r.status_code == 200 and r.get_json()["hits"][0]["passage_id"] == "d1"
    assert 0 < calls[0] <= 500, calls[0]


# Spark sort keys of each /search mode's hits (response field names)
_SEARCH_ORDER = {
    "topk": ("query", "rank"),
    "range": ("query", "-score", "passage_id"),
    "grouping": ("query", "rank"),
    "mmr": ("query", "rank"),
    "maxsim": ("query", "rank"),
}


def test_search_modes_return_hits_in_spark_sort_order(spark, client):
    """Every mode sorts its bounded result on the driver; the order must
    be exactly the one a Spark orderBy on the mode's keys gives, with
    tied scores broken by passage id."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    twin = "sigma binds tau tau lifts upsilon upsilon guards phi"
    docs = [
        {"doc_id": f"t{i}", "text": twin, "source": "web"} for i in (3, 1, 2)
    ] + [
        {"doc_id": "u1", "text": "phi warms chi chi shades psi psi cools omega", "source": "web"},
        {"doc_id": "u0", "text": "tau meets psi psi hears sigma sigma greets chi", "source": "web"},
    ]
    assert client.post(
        "/add_documents", json={"graph_name": "gorder", "documents": docs}
    ).status_code == 200
    queries = ["phi warms chi chi shades psi psi cools omega", twin]
    for mode, keys in _SEARCH_ORDER.items():
        hits = client.post(
            "/search",
            json={"graph_name": "gorder", "queries": queries, "mode": mode,
                  "top_k": 4, "radius": -1.0},
        ).get_json()["hits"]
        assert {h["query"] for h in hits} == {0, 1}, mode
        order = [F.desc(k[1:]) if k.startswith("-") else F.asc(k) for k in keys]
        want = spark.createDataFrame([Row(**h) for h in hits]).orderBy(*order).collect()
        assert hits == [r.asDict() for r in want], mode
        if mode in ("topk", "range"):
            by_score = sorted(hits, key=lambda h: (h["query"], -h["score"], h["passage_id"]))
            assert hits == by_score, mode
            tied = [h["passage_id"] for h in hits if h["query"] == 1 and h["score"] == 1.0]
            assert tied == ["t1", "t2", "t3"], mode


def test_add_response_counts_equal_the_stats_route(client):
    """/add_documents answers with the counts its own write observed; after
    an add that re-upserts a passage they equal the stats route's
    re-read."""
    assert client.post(
        "/add_documents", json={"graph_name": "gcount", "documents": DOCS}
    ).status_code == 200
    again = client.post(
        "/add_documents",
        json={
            "graph_name": "gcount",
            "documents": [
                {"doc_id": "d1", "text": "alpha owns beta beta feeds iota iota likes kappa", "source": "web"},
                {"doc_id": "d4", "text": "lambda rules mu mu sees nu nu meets xi", "source": "web"},
            ],
        },
    )
    assert again.status_code == 200
    stats = client.get("/graph/gcount/stats").get_json()
    assert again.get_json() == stats
    assert stats["passages"] == 4


def test_search_range_mode_band_is_exclusive_inclusive(client, search_graph):
    """mode=range: radius is exclusive, range_filter inclusive — querying a
    passage's own text with range_filter just under 1.0 must exclude the
    exact self-match but keep weaker neighbors above the radius."""
    q = "alpha owns beta beta feeds gamma gamma likes delta"
    full = client.post(
        "/search",
        json={"graph_name": "gsearch", "queries": [q], "mode": "range",
              "radius": -1.0, "range_filter": 1.0},
    ).get_json()["hits"]
    assert any(h["passage_id"] == "d1" and abs(h["score"] - 1.0) < 1e-9 for h in full)
    banded = client.post(
        "/search",
        json={"graph_name": "gsearch", "queries": [q], "mode": "range",
              "radius": -1.0, "range_filter": 0.999999},
    ).get_json()["hits"]
    assert all(h["passage_id"] != "d1" for h in banded)
    assert len(banded) == len(full) - 1


def test_search_grouping_mode_one_passage_per_entity(client, search_graph):
    r = client.post(
        "/search",
        json={"graph_name": "gsearch",
              "queries": ["beta rules epsilon epsilon sees zeta zeta meets eta"],
              "mode": "grouping", "top_k": 50},
    )
    hits = r.get_json()["hits"]
    assert hits, "expected grouped hits"
    # one hit per entity, ranks contiguous from 1
    entities = [h["entity_id"] for h in hits]
    assert len(entities) == len(set(entities))
    assert [h["rank"] for h in hits] == list(range(1, len(hits) + 1))
    # the self-match passage d2 must be the best hit for its entities
    d2_entities = [h for h in hits if h["passage_id"] == "d2"]
    assert d2_entities and all(abs(h["score"] - 1.0) < 1e-9 for h in d2_entities)


def test_search_range_mode_limit_caps_per_query(client, search_graph):
    """mode=range with a whole-corpus band (radius=-1) must return exactly
    ``limit`` BEST-first rows PER QUERY (r10 verdict item 6 + ADVICE item 1:
    a global limit ordered by query_idx first let an early query's weakest
    in-band hits crowd later queries out entirely; Milvus applies the limit
    per query)."""
    q1 = "alpha owns beta beta feeds gamma gamma likes delta"
    q2 = "beta rules epsilon epsilon sees zeta zeta meets eta"
    hits = client.post(
        "/search",
        json={"graph_name": "gsearch", "queries": [q1, q2], "mode": "range",
              "radius": -1.0, "range_filter": 1.0, "limit": 2},
    ).get_json()["hits"]
    by_query: dict[int, list] = {}
    for h in hits:
        by_query.setdefault(h["query"], []).append(h)
    # both queries survive the cap, each with exactly `limit` rows
    assert set(by_query) == {0, 1}
    assert all(len(v) == 2 for v in by_query.values())
    # best-first within each query: scores non-increasing, and each
    # query's own self-match passage leads its slice
    for v in by_query.values():
        assert v[0]["score"] >= v[1]["score"]
    assert by_query[0][0]["passage_id"] == "d1"
    assert abs(by_query[0][0]["score"] - 1.0) < 1e-9
    assert abs(by_query[1][0]["score"] - 1.0) < 1e-9


def test_search_numeric_params_malformed_is_400(client, search_graph):
    """Malformed numeric params are caller errors → 400, never a 500
    (r10 ADVICE item 3)."""
    for payload in (
        {"mode": "topk", "top_k": "abc"},
        {"mode": "range", "radius": "wide"},
        {"mode": "range", "range_filter": None, "radius": 0.5},
        {"mode": "range", "limit": "all"},
    ):
        r = client.post(
            "/search",
            json={"graph_name": "gsearch", "queries": ["x"], **payload},
        )
        assert r.status_code == 400, payload
        assert "error" in r.get_json()


def test_search_mmr_mode_skips_exact_duplicate(client):
    """mode=mmr: with two IDENTICAL passages indexed, plain topk returns
    both back-to-back, but MMR's second pick must be a DIFFERENT text —
    after selecting one twin, the other's marginal score collapses to
    rel - sim(self-dup) = 0 (the registered mmr_diversity_rerank kernel,
    shared via mmr_greedy_select)."""
    dup = "kappa binds lambda lambda lifts mu mu guards nu"
    # query is a NEAR-duplicate of the twins, not exact: with q == twin
    # text every marginal degenerates to rel - sim == 0 (q and the
    # selected twin are the same vector), which is a tie, not a ranking.
    query = "kappa binds lambda lambda lifts mu mu guards xi"
    docs = [
        {"doc_id": "m1", "text": dup, "source": "web"},
        {"doc_id": "m2", "text": dup, "source": "web"},
        {"doc_id": "m3", "text": "xi warms omicron omicron shades pi pi cools rho", "source": "web"},
    ]
    assert client.post(
        "/add_documents", json={"graph_name": "gmmr", "documents": docs}
    ).status_code == 200
    top = client.post(
        "/search",
        json={"graph_name": "gmmr", "queries": [query], "mode": "topk", "top_k": 2},
    ).get_json()["hits"]
    assert {h["passage_id"] for h in top} == {"m1", "m2"}  # duplicates dominate
    mmr = client.post(
        "/search",
        json={"graph_name": "gmmr", "queries": [query], "mode": "mmr", "top_k": 2},
    ).get_json()["hits"]
    assert [h["rank"] for h in mmr] == [1, 2]
    assert mmr[0]["passage_id"] == "m1"  # best rel, lowest id
    assert mmr[1]["passage_id"] == "m3"  # twin m2 displaced by diversity
    assert mmr[1]["mmr_score"] < mmr[0]["mmr_score"]


def test_search_topk_offset_pagination(client, search_graph):
    """mode=topk with Milvus-style offset: page 2 (offset=1, top_k=2) is
    exactly ranks 2-3 of the unpaged list, ranks kept absolute so pages
    compose; negative offset is a 400."""
    q = "alpha owns beta beta feeds gamma gamma likes delta"
    full = client.post(
        "/search",
        json={"graph_name": "gsearch", "queries": [q], "mode": "topk", "top_k": 3},
    ).get_json()["hits"]
    page2 = client.post(
        "/search",
        json={"graph_name": "gsearch", "queries": [q], "mode": "topk",
              "top_k": 2, "offset": 1},
    ).get_json()["hits"]
    assert [h["rank"] for h in page2] == [2, 3]
    assert [(h["passage_id"], h["score"]) for h in page2] == [
        (h["passage_id"], h["score"]) for h in full[1:3]
    ]
    assert client.post(
        "/search",
        json={"graph_name": "gsearch", "queries": [q], "offset": -1},
    ).status_code == 400


def test_search_error_paths(client, search_graph):
    assert client.post("/search", json={"graph_name": "gsearch", "queries": []}).status_code == 400
    assert client.post(
        "/search", json={"graph_name": "gsearch", "queries": ["x"], "mode": "bogus"}
    ).status_code == 400
    assert client.post(
        "/search", json={"graph_name": "nope", "queries": ["x"]}
    ).status_code == 404
    # top_k / limit must be >= 1 — a 400, never a silently-empty hit list.
    assert client.post(
        "/search", json={"graph_name": "gsearch", "queries": ["x"], "top_k": 0}
    ).status_code == 400
    assert client.post(
        "/search", json={"graph_name": "gsearch", "queries": ["x"], "top_k": -3}
    ).status_code == 400
    assert client.post(
        "/search", json={"graph_name": "gsearch", "queries": ["x"], "limit": 0}
    ).status_code == 400


def test_search_mmr_pool_scales_with_top_k(client, search_graph):
    """mode=mmr with top_k above the legacy fixed 20-candidate pool: the
    pool now scales as max(20, 4*top_k), so top_k is never silently capped
    — every indexed passage is returnable when top_k >= corpus size."""
    q = "alpha owns beta beta feeds gamma gamma likes delta"
    hits = client.post(
        "/search",
        json={"graph_name": "gsearch", "queries": [q], "mode": "mmr", "top_k": 25},
    ).get_json()["hits"]
    # The fixture corpus is small, so the result is corpus-bounded — but it
    # must NOT be bounded by the old fixed pool semantics, and ranks stay
    # dense from 1.
    assert [h["rank"] for h in hits] == list(range(1, len(hits) + 1))
    assert len(hits) >= 1


def test_import_route_decodes_docx_pdf_html(client, tmp_path_factory):
    """r13/r14: /import ingests txt/docx/pdf/html AND legacy .doc (the r14
    OLE2 extractor) through the stdlib converter — five formats land as
    passages in one request; a corrupt .doc reports per-row decode_error
    and the unreachable URL reports its fetch failure."""
    from tests.test_loaders import _make_docx, _make_pdf
    from vector_graph_rag_spark.sources.ole2 import make_doc

    d = tmp_path_factory.mktemp("import_rich")
    (d / "a.txt").write_text("red owns blue blue feeds green green likes gray tail tokens")
    (d / "b.docx").write_bytes(_make_docx(["ant bites bee bee stings cat cat chases dog end"]))
    (d / "c.pdf").write_bytes(_make_pdf(["sun warms moon moon pulls tide tide moves sand end"]))
    (d / "e.html").write_text("<p>fox hunts hare hare eats grass grass covers hill end</p>")
    (d / "f.doc").write_bytes(make_doc("owl watches mouse mouse nibbles seed seed grows tree end"))
    (d / "g.doc").write_bytes(b"\xd0\xcf\x11\xe0 corrupt")
    r = client.post(
        "/import",
        json={
            "graph_name": "imp_rich",
            "sources": [
                str(d / "a.txt"), str(d / "b.docx"), str(d / "c.pdf"),
                str(d / "e.html"), str(d / "f.doc"), str(d / "g.doc"),
                "https://x.test/p",
            ],
        },
    ).get_json()
    assert r["imported"] == 5, r
    kinds = sorted(s["kind"] for s in r["skipped"])
    assert kinds == ["decode_error", "url"], r["skipped"]
    stats = client.get("/graph/imp_rich/stats").get_json()
    assert stats["passages"] == 5


def test_import_route_corrupt_file_per_row_error(client, tmp_path_factory):
    """r14 (r13 advisor, medium): a corrupt .docx (BadZipFile) or malformed
    .html on /import's BINARY decode path no longer 500s the whole import —
    the row comes back null-text + error through convert_binary_documents
    and /import reports it in `skipped` as kind decode_error, mirroring
    /upload and fetch_url_documents."""
    d = tmp_path_factory.mktemp("import_corrupt")
    (d / "good.txt").write_text(
        "red owns blue blue feeds green green likes gray tail tokens"
    )
    (d / "broken.docx").write_bytes(b"PK\x03\x04 not a real zip")
    r = client.post(
        "/import",
        json={
            "graph_name": "imp_corrupt",
            "sources": [str(d / "good.txt"), str(d / "broken.docx")],
        },
    ).get_json()
    assert r["imported"] == 1, r
    dec = [s for s in r["skipped"] if s["kind"] == "decode_error"]
    assert len(dec) == 1 and dec[0]["source"].endswith("broken.docx")
    assert "BadZipFile" in dec[0]["error"]
    stats = client.get("/graph/imp_corrupt/stats").get_json()
    assert stats["passages"] == 1


def test_upload_route_decodes_real_formats(client):
    """r13: /upload decodes docx/pdf/html driver-side with the stdlib
    extractors; a malformed docx is skipped per-file as decode_error
    without failing the request."""
    import io

    from tests.test_loaders import _make_docx, _make_pdf

    r = client.post(
        "/upload",
        data={
            "graph_name": "up_rich",
            "files": [
                (io.BytesIO(_make_docx(["ant bites bee bee stings cat cat chases dog end"])), "d.docx"),
                (io.BytesIO(_make_pdf(["sun warms moon moon pulls tide tide moves sand end"])), "p.pdf"),
                (io.BytesIO(b"<p>fox hunts hare hare eats grass grass covers hill end</p>"), "h.html"),
                (io.BytesIO(b"PK\x03\x04 not a real zip"), "broken.docx"),
                (io.BytesIO(b"\x00\x01binary"), "img.png"),
            ],
        },
        content_type="multipart/form-data",
    ).get_json()
    assert r["imported"] == 3, r
    assert {s["kind"] for s in r["skipped"]} == {"decode_error", "unsupported"}
    stats = client.get("/graph/up_rich/stats").get_json()
    assert stats["passages"] == 3


def test_import_route_fetches_urls_via_loopback(client):
    """r13: /import fetches url sources for real (requests + stdlib
    extract) — a loopback page lands as an indexed passage, a failing URL
    reports skipped with its captured error."""
    import http.server
    import threading

    page = (b"<html><body><p>owl guards barn barn shelters mouse "
            b"mouse nibbles grain end</p></body></html>")

    class _H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            if self.path == "/doc":
                self.send_response(200)
                self.send_header("Content-Type", "text/html")
                self.send_header("Content-Length", str(len(page)))
                self.end_headers()
                self.wfile.write(page)
            else:
                self.send_error(404)

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), _H)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        r = client.post(
            "/import",
            json={
                "graph_name": "imp_url",
                "sources": [
                    f"http://127.0.0.1:{port}/doc",
                    f"http://127.0.0.1:{port}/missing",
                ],
            },
        ).get_json()
    finally:
        srv.shutdown()
    assert r["imported"] == 1, r
    assert len(r["skipped"]) == 1 and "error" in r["skipped"][0]
    stats = client.get("/graph/imp_url/stats").get_json()
    assert stats["passages"] == 1


def test_search_maxsim_mode_token_level_beats_pooled(client):
    """mode=maxsim: late interaction matches at TOKEN level.  Passage A
    contains the query's exact tokens scattered among distractors, and
    passage B contains none of them; MaxSim must rank A first with a
    strictly higher score — and the query's source text itself scores
    max (every token self-matches at dot=1)."""
    docs = [
        {"doc_id": "x1", "text": "alpha binds beta beta lifts gamma gamma guards delta", "source": "web"},
        {"doc_id": "x2", "text": "alpha holds beta beta meets gamma gamma joins iota", "source": "web"},
        {"doc_id": "x3", "text": "omicron warms pi pi shades rho rho cools sigma", "source": "web"},
    ]
    assert client.post(
        "/add_documents", json={"graph_name": "gms", "documents": docs}
    ).status_code == 200
    out = client.post(
        "/search",
        json={
            "graph_name": "gms",
            "queries": ["alpha beta gamma"],
            "mode": "maxsim",
            "top_k": 3,
        },
    ).get_json()
    assert out["mode"] == "maxsim"
    hits = out["hits"]
    assert [h["rank"] for h in hits] == [1, 2, 3]
    by_id = {h["passage_id"]: h for h in hits}
    # x1 and x2 both contain all three query tokens verbatim → both score
    # the 3.0 self-max; x3 contains none and must land strictly below.
    assert hits[0]["passage_id"] == "x1"  # tie at 3.0 breaks to lowest id
    assert abs(by_id["x1"]["maxsim"] - 3.0) < 1e-6
    assert abs(by_id["x2"]["maxsim"] - 3.0) < 1e-6
    assert by_id["x3"]["maxsim"] < by_id["x2"]["maxsim"]

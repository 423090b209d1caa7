"""Thin HTTP layer over the Spark engine — route parity with the reference
FastAPI app (src/vector_graph_rag/api/app.py:300-890).

Design: every handler is a bounded driver-side wrapper that declares a
DataFrame plan and collects a SMALL result (stats, top-k passages, a page
of documents).  No data flows through the HTTP process beyond request/
response payloads; the heavy lifting stays in Spark jobs.  Flask is used
because it is what this container ships (the reference uses FastAPI —
same route surface, different micro-framework); it is imported lazily so
the engine has no hard web dependency.

Route map (reference file:line):
- GET    /health                         app.py:300-303
- GET    /graphs                         app.py:305-319
- GET    /settings                       app.py:321-337
- DELETE /graph/<name>                   app.py:339-377
- POST   /add_documents                  app.py:379-421
- POST   /query                          app.py:550-669
- GET    /graph/<name>/stats             app.py:671-695
- GET    /graph/<name>/neighbors/<id>    app.py:697-763
- GET    /documents                      app.py:786-818
- GET    /documents/<id>                 app.py:765-784
- PUT    /documents/<id>                 app.py:820-852
- DELETE /documents/<id>                 app.py:854-886

Online ms-latency serving is explicitly out of scope (SURVEY §7): queries
run as micro-batch Spark jobs, which matches how the reference's eval
harness consumes the engine (300-question batches).

Mutation safety: updates go through ``GraphCatalog.replace_graph``,
which writes the new graph to a ``<name>__staging`` directory FIRST (reads
of the old graph stay valid while the new plan executes), then swaps it
in by two renames and deletes the old copy last, so a crash leaves the
old graph or the new one.  On a real deployment the swap is a catalog
pointer flip (Delta/Iceberg commit); on local parquet it is a directory
rename.

Request frames: every frame built from request data stays on the JVM.
``spark.createDataFrame(<python list>)`` would back it with a pickled
Python RDD, and every action that re-runs its lineage would send each
partition through a Python worker: about 0.34 s against 0.02 s for a
JVM-only frame, and a 200-document add re-ran it in most of its jobs.
Every request payload (documents, query texts, import paths and URLs)
rides one Arrow table (``functions/literals.arrow_rows``: one partition,
struct cells for triplets), so no request string is ever part of SQL
text.
``tests/test_source_hygiene.py`` keeps ``createDataFrame`` calls out of
this package and ``graph/``.

Request expressions: a route builds its plan over py4j, one round trip
per expression node, and on a request path that cost is paid on every
request.  ``/search``'s constant trees (the two mock embeddings, the
cosine score and the ranking windows) are built once per app in
``create_app``, and the Column builders under them are memoized per JVM
(``functions/memo``), so a topk request makes a few hundred round trips
instead of about 3,900.  Every route's result is bounded (k, a limit or
one page), so a route sorts its collected rows in Python instead of
chaining a global ``orderBy`` into ``collect``, which would add a
range-sampling job and a shuffle (``tests/test_source_hygiene.py``).
``/add_documents`` answers with the row counts its own write observed
(``GraphCatalog.replace_graph``), not with a re-read of the graph.
"""

from __future__ import annotations

import dataclasses
import os

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from vector_graph_rag_spark.config import DEFAULT_CONFIG, EngineConfig
from vector_graph_rag_spark.functions.embedding import mock_embedding
from vector_graph_rag_spark.functions.literals import arrow_rows
from vector_graph_rag_spark.functions.vector import cosine
from vector_graph_rag_spark.graph.builder import build_graph, synthetic_triplet_docs
from vector_graph_rag_spark.graph.crud import delete_passages, upsert_passages
from vector_graph_rag_spark.graph.expand import expand_subgraph
from vector_graph_rag_spark.graph.retrieve import (
    retrieve_passages,
    seed_frontier_from_names,
)
from vector_graph_rag_spark.sources.catalog import (
    GraphCatalog,
    GraphFormatError,
    GraphNameError,
)

_TRIPLET_SCHEMA = (
    "doc_id string, text string, "
    "triplets array<struct<subject:string,predicate:string,object:string>>"
)


def _docs_dataframe(spark: SparkSession, documents: list[dict]):
    """Request docs → (doc_id, text, triplets) DataFrame.

    Docs carrying pre-extracted ``triplets`` use them verbatim (the
    reference's pre-extracted-triplet ingest, rag.py:279-283); docs
    without run the deterministic mock extractor (the LLM extractor is a
    pluggable stage, llm/extractor.py:83-233 — mocked per FIXTURES.md §3).
    """
    with_t = [
        (
            str(d["doc_id"]),
            d["text"],
            [
                (t["subject"], t["predicate"], t["object"])
                for t in d["triplets"]
            ],
        )
        for d in documents
        if d.get("triplets") is not None
    ]
    without_t = [
        (str(d["doc_id"]), d["text"], d.get("source", "api"))
        for d in documents
        if d.get("triplets") is None
    ]
    parts = []
    if with_t:
        parts.append(arrow_rows(spark, with_t, _TRIPLET_SCHEMA))
    if without_t:
        raw = arrow_rows(spark, without_t, "doc_id string, text string, source string")
        parts.append(synthetic_triplet_docs(raw))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def _queries_dataframe(spark: SparkSession, qtexts: list[str]):
    """/search query texts → (query_idx, qtext), a JVM-only Arrow frame."""
    return arrow_rows(spark, list(enumerate(qtexts)), "query_idx int, qtext string")


def create_app(
    spark: SparkSession,
    catalog_root: str | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
):
    """Build the Flask app bound to one SparkSession + graph catalog."""
    from flask import Flask, jsonify, request

    catalog = GraphCatalog(catalog_root or os.path.join(config.storage_root, "graphs"))
    app = Flask("vector_graph_rag_spark")
    # /search's constant expressions, built once per app (module notes)
    qvec = mock_embedding("qtext").alias("qvec")
    pvec = mock_embedding("text").alias("pvec")
    score = F.round(cosine("pvec", "qvec"), 6)
    by_score = Window.partitionBy("query_idx").orderBy(F.desc("score"), F.asc("id"))
    by_entity_score = Window.partitionBy("query_idx").orderBy(
        F.desc("score"), F.asc("entity_id")
    )

    def _not_found(name: str):
        return jsonify({"error": f"graph '{name}' not found"}), 404

    @app.errorhandler(GraphNameError)
    def _bad_graph_name(e: GraphNameError):
        return jsonify({"error": str(e)}), 400

    @app.errorhandler(GraphFormatError)
    def _old_graph_format(e: GraphFormatError):
        return jsonify({"error": str(e)}), 409

    # --- system ------------------------------------------------------------

    @app.get("/health")
    def health():
        return jsonify({"status": "healthy", "engine": "spark", "ok": True})

    @app.get("/graphs")
    def graphs():
        return jsonify({"graphs": catalog.list_graphs()})

    @app.get("/settings")
    def settings():
        d = dataclasses.asdict(config)
        d.pop("extra", None)
        return jsonify(d)

    @app.delete("/graph/<name>")
    def drop_graph(name: str):
        existed = catalog.delete_graph(name)
        if not existed:
            return _not_found(name)
        return jsonify({"deleted": name})

    # --- documents / indexing ---------------------------------------------

    @app.post("/add_documents")
    def add_documents():
        body = request.get_json(force=True)
        name = body.get("graph_name", "default")
        documents = body.get("documents") or []
        if not documents:
            return jsonify({"error": "no documents"}), 400
        # the counts come from the write itself, not from a re-read
        return jsonify({"graph_name": name, **_index_docs(name, documents)})

    def _index_docs(name: str, documents: list[dict]) -> dict[str, int]:
        """Index ``documents`` into graph ``name``; returns its node counts."""
        docs = _docs_dataframe(spark, documents)
        if catalog.exists(name):
            tables = upsert_passages(catalog.read_graph(spark, name), docs)
        else:
            tables = build_graph(docs)
        return catalog.replace_graph(name, tables)

    def _doc_from_text(path: str, text: str) -> dict:
        import hashlib

        d = {
            "doc_id": hashlib.sha256(path.encode()).hexdigest()[:16],
            "text": text,
            "source": path,
        }
        # The mock extractor needs ≥9 whitespace tokens (graph/builder.py
        # synthetic rule); shorter texts index as triplet-less passages.
        if len(text.split()) < 9:
            d["triplets"] = []
        return d

    @app.post("/import")
    def import_documents():
        """File/URL import (reference app.py:423-474): route by type, read
        decodable files through the binaryFile source + mapInPandas
        converter, index.  The converter decodes text/docx/pdf/html
        IN-CONTAINER (stdlib extractors, sources/loaders.py); URLs are
        live-fetched via fetch_url_documents (requests + stdlib extract)
        with per-row fetch failures reported in `skipped`; corrupt files
        on the binary path likewise come back per-row as kind
        `decode_error` rather than failing the whole import; legacy .doc
        decodes via the r14 OLE2 extractor, so only missing files and
        unsupported extensions report skipped up front.

        Trust note: URL sources are fetched SERVER-SIDE with no scheme/
        host restrictions — parity with the reference url_fetcher.py,
        which assumes trusted callers.  If this API is ever exposed
        beyond trusted callers, add an allowlist / deny-private-ranges
        check in fetch_url_documents."""
        from vector_graph_rag_spark.sources.loaders import (
            convert_binary_documents,
            route_files,
        )

        from vector_graph_rag_spark.sources.loaders import fetch_url_documents

        body = request.get_json(force=True)
        name = body.get("graph_name", "default")
        sources = body.get("sources") or []
        if not sources:
            return jsonify({"error": "no sources"}), 400
        if not isinstance(sources, list) or not all(isinstance(s, str) for s in sources):
            return jsonify({"error": "sources must be a list of strings"}), 400
        listing = arrow_rows(spark, [(s,) for s in sources], "path string")
        routed = {r["path"]: r["kind"] for r in route_files(listing).collect()}
        decodable = {"text", "pdf", "docx", "html", "doc_legacy"}
        readable = [
            p
            for p, k in routed.items()
            if k in decodable and os.path.isfile(p)
        ]
        urls = [p for p, k in routed.items() if k == "url"]
        skipped = [
            {"source": p, "kind": k}
            for p, k in routed.items()
            if p not in readable and k != "url"
        ]
        docs = []
        if readable:
            binary = spark.read.format("binaryFile").load(readable)
            for r in convert_binary_documents(binary).collect():
                if r["text"] is not None:
                    docs.append(_doc_from_text(r["path"], r["text"]))
                else:  # corrupt file: per-row error, import continues
                    skipped.append(
                        {
                            "source": r["path"],
                            "kind": "decode_error",
                            "error": r["error"],
                        }
                    )
        if urls:
            # r13: the fetcher runs for real (requests + stdlib extract);
            # fetch failures come back as per-row errors, reported skipped
            # with the reason (reference app.py:423-474 error surface).
            udf_ = arrow_rows(spark, [(u,) for u in urls], "url string")
            for r in fetch_url_documents(udf_).collect():
                if r["text"] is not None:
                    docs.append(_doc_from_text(r["url"], r["text"]))
                else:
                    skipped.append(
                        {"source": r["url"], "kind": "url", "error": r["error"]}
                    )
        if docs:
            _index_docs(name, docs)
        return jsonify({"graph_name": name, "imported": len(docs), "skipped": skipped})

    @app.post("/upload")
    def upload_files():
        """Multipart upload (reference app.py:476-548): .txt/.md decode as
        UTF-8; .docx/.pdf/.html through the r13 stdlib extractors; other
        types report skipped.  Payloads are request-bounded, so driver-side
        decode is safe (the reference decodes uploads driver-side too)."""
        from vector_graph_rag_spark.sources.loaders import (
            extract_docx_text,
            extract_html_text,
            extract_pdf_text,
        )

        name = request.form.get("graph_name", "default")
        files = request.files.getlist("files")
        if not files:
            return jsonify({"error": "no files"}), 400
        docs, skipped = [], []
        for f in files:
            fname = f.filename or "unnamed"
            low = fname.lower()
            try:
                if low.endswith((".txt", ".md")):
                    docs.append(_doc_from_text(fname, f.read().decode("utf-8", "replace")))
                elif low.endswith(".docx"):
                    docs.append(_doc_from_text(fname, extract_docx_text(f.read())))
                elif low.endswith(".pdf"):
                    docs.append(_doc_from_text(fname, extract_pdf_text(f.read())))
                elif low.endswith((".html", ".htm")):
                    docs.append(_doc_from_text(fname, extract_html_text(f.read())))
                else:
                    skipped.append({"source": fname, "kind": "unsupported"})
            except Exception:  # malformed upload: skip the row, never the request
                skipped.append({"source": fname, "kind": "decode_error"})
        if docs:
            _index_docs(name, docs)
        return jsonify({"graph_name": name, "imported": len(docs), "skipped": skipped})

    @app.get("/documents")
    def list_documents():
        name = request.args.get("graph_name", "default")
        try:
            limit = int(request.args.get("limit", 10))
        except ValueError:
            return jsonify({"error": "limit must be an integer"}), 400
        if limit < 1:
            return jsonify({"error": "limit must be >= 1"}), 400
        if not catalog.exists(name):
            return _not_found(name)
        g = catalog.read_graph(spark, name)
        after = request.args.get("after")
        if after is not None:
            # Keyset cursor (the scale path, same kernel as the registered
            # documents_keyset_page): WHERE id > cursor ORDER BY id LIMIT n
            # reads O(page), never O(offset + page); next_cursor is the
            # page's last id, null when the listing is exhausted.
            rows = (
                g.passages.filter(F.col("id") > after)
                .select("id", "text")
                .orderBy("id")
                .limit(limit)
                .collect()
            )
            return jsonify(
                {
                    "documents": [
                        {"doc_id": r["id"], "text": r["text"]} for r in rows
                    ],
                    "next_cursor": rows[-1]["id"] if len(rows) == limit else None,
                }
            )
        try:
            offset = int(request.args.get("offset", 0))
        except ValueError:
            return jsonify({"error": "offset must be an integer"}), 400
        if offset < 0:
            return jsonify({"error": "offset must be >= 0"}), 400
        # Legacy offset page: order by id, skip offset — O(offset + limit);
        # kept for parity, the `after` cursor above is the scale path.
        rows = (
            g.passages.select("id", "text")
            .orderBy("id")
            .limit(offset + limit)
            .collect()[offset:]
        )
        return jsonify(
            {"documents": [{"doc_id": r["id"], "text": r["text"]} for r in rows]}
        )

    @app.get("/documents/<doc_id>")
    def get_document(doc_id: str):
        name = request.args.get("graph_name", "default")
        if not catalog.exists(name):
            return _not_found(name)
        g = catalog.read_graph(spark, name)
        rows = g.passages.filter(F.col("id") == doc_id).select("id", "text").collect()
        if not rows:
            return jsonify({"error": f"document '{doc_id}' not found"}), 404
        return jsonify({"doc_id": rows[0]["id"], "text": rows[0]["text"]})

    @app.put("/documents/<doc_id>")
    def update_document(doc_id: str):
        body = request.get_json(force=True)
        name = body.get("graph_name", "default")
        if not catalog.exists(name):
            return _not_found(name)
        doc = {**body, "doc_id": doc_id}
        tables = upsert_passages(
            catalog.read_graph(spark, name), _docs_dataframe(spark, [doc])
        )
        catalog.replace_graph(name, tables)
        return jsonify({"doc_id": doc_id, "updated": True})

    @app.delete("/documents/<doc_id>")
    def delete_document(doc_id: str):
        name = request.args.get("graph_name", "default")
        if not catalog.exists(name):
            return _not_found(name)
        g = catalog.read_graph(spark, name)
        catalog.replace_graph(name, delete_passages(g, [doc_id]))
        return jsonify({"doc_id": doc_id, "deleted": True})

    # --- graph reads -------------------------------------------------------

    @app.get("/graph/<name>/stats")
    def stats(name: str):
        if not catalog.exists(name):
            return _not_found(name)
        return jsonify({"graph_name": name, **catalog.graph_stats(spark, name)})

    @app.get("/graph/<name>/neighbors/<entity_id>")
    def neighbors(name: str, entity_id: str):
        if not catalog.exists(name):
            return _not_found(name)
        limit = int(request.args.get("limit", 20))
        g = catalog.read_graph(spark, name)
        er = g.entity_relation
        nbrs = (
            er.filter(F.col("entity_id") == entity_id)
            .join(er.withColumnRenamed("entity_id", "neighbor_id"), "relation_id")
            .filter(F.col("neighbor_id") != entity_id)
            .select("neighbor_id")
            .distinct()
            .join(g.entities.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
            .select("neighbor_id", "name")
            .orderBy("neighbor_id")
            .limit(limit)
            .collect()
        )
        return jsonify(
            {
                "entity_id": entity_id,
                "neighbors": [{"entity_id": r["neighbor_id"], "name": r["name"]} for r in nbrs],
            }
        )

    # --- query -------------------------------------------------------------

    @app.post("/query")
    def query():
        body = request.get_json(force=True)
        name = body.get("graph_name", "default")
        seeds = body.get("seed_entities") or []
        if not seeds:
            # The reference NERs the free-text question (app.py:550-669);
            # the deterministic stand-in requires explicit seed entities.
            return jsonify({"error": "seed_entities required"}), 400
        if not catalog.exists(name):
            return _not_found(name)
        g = catalog.read_graph(spark, name)
        degree = int(body.get("degree", config.expansion_degree))
        include_history = bool(body.get("include_history"))
        # ONE expansion serves both the passage ranking and (when asked) the
        # per-step history — the reference records history during the single
        # expansion it retrieves with (knowledge_graph.py:292-346); a second
        # expansion per request would double the work (ADVICE r4).
        frontier = seed_frontier_from_names(spark, seeds)
        expansion = expand_subgraph(
            g, frontier, degree=degree, collect_history=include_history
        )
        result = retrieve_passages(
            g,
            frontier,
            degree=degree,
            final_top_k=int(body.get("top_k", config.final_top_k)),
            expansion=expansion,
        ).collect()
        payload = {
            "passages": [
                {
                    "passage_id": r["passage_id"],
                    "rank": r["rank"],
                    "n_supporting_relations": r["n_supporting_relations"],
                    "text": r["text"],
                }
                for r in result
            ]
        }
        if include_history:
            # Reference parity: /query returns the per-step expansion history
            # (reference app.py:606-618 ExpansionStepSchema; recorded at
            # knowledge_graph.py:292-346).  The reference maps the recorded
            # new_*_ids keys to added_*_ids in the response — mirrored here.
            payload["expansion_history"] = [
                {
                    "step": h["step"],
                    "operation": h["operation"],
                    "description": h["description"],
                    "added_entity_ids": h.get("new_entity_ids", []),
                    "added_relation_ids": h.get("new_relation_ids", []),
                    "total_entities": h["total_entities"],
                    "total_relations": h["total_relations"],
                }
                for h in expansion.history
            ]
        return jsonify(payload)

    # --- vector search over passages (Milvus client-surface parity) --------

    @app.post("/search")
    def search():
        """Embedding search over a graph's passages in the five Milvus
        search modes the engine implements as queries (queries/search_api.py):
        ``topk`` (plain top-k, milvus.py:346-373), ``range`` (radius <
        score <= range_filter, no k), ``grouping`` (group_by=entity:
        top-k ENTITIES per query, one best passage per entity —
        group_size=1), ``mmr`` (diversity-aware top-k: greedy
        maximal-marginal-relevance over each query's top-20 candidates,
        the registered mmr_diversity_rerank kernel), and ``maxsim``
        (late-interaction multi-vector scoring over per-token embeddings,
        the registered colbert_maxsim_topk kernel).  Query texts ride
        the same deterministic embedding the indexing side uses.  Every
        mode's result is bounded (|queries| x k, or x limit), so it is
        sorted on the driver, not by a global Spark sort."""
        body = request.get_json(force=True)
        name = body.get("graph_name", "default")
        if not catalog.exists(name):
            return _not_found(name)
        qtexts = body.get("queries") or []
        if not qtexts:
            return jsonify({"error": "queries required"}), 400
        if not isinstance(qtexts, list) or not all(isinstance(t, str) for t in qtexts):
            return jsonify({"error": "queries must be a list of strings"}), 400
        mode = body.get("mode", "topk")
        if mode not in ("topk", "range", "grouping", "mmr", "maxsim"):
            return jsonify({"error": f"unknown mode '{mode}'"}), 400
        # Numeric params validate up front: malformed JSON values (e.g.
        # top_k='abc') are a caller error → 400, consistent with the
        # mode/queries validation paths, never a 500.
        try:
            k = int(body.get("top_k", config.final_top_k))
            limit = int(body.get("limit", 1000))
            offset = int(body.get("offset", 0))
            radius = float(body.get("radius", 0.0))
            range_filter = float(body.get("range_filter", 1.0))
        except (TypeError, ValueError):
            return (
                jsonify({"error": "top_k/limit/offset must be integers, radius/range_filter numbers"}),
                400,
            )
        if offset < 0:
            return jsonify({"error": "offset must be >= 0"}), 400
        # Positivity: top_k<=0 / limit<=0 would silently return empty hit
        # lists — a caller error, same 400 contract as the type checks.
        if k < 1 or limit < 1:
            return jsonify({"error": "top_k and limit must be >= 1"}), 400
        g = catalog.read_graph(spark, name)
        qdf = _queries_dataframe(spark, qtexts).select("query_idx", qvec)
        scored = (
            # NULL-text exclusion in lockstep with the registered
            # grouping_search_topk: a NULL text embeds to a NULL score,
            # which would win grouping mode's min(struct(-score, id))
            # reduce and pays the crossJoin for nothing in topk mode.
            g.passages.filter(F.col("text").isNotNull())
            .select("id", pvec)
            .crossJoin(F.broadcast(qdf))
            .withColumn("score", score)
        )
        if mode == "range":
            # Milvus range search still honors a limit, applied PER QUERY —
            # a caller-supplied band can cover the whole corpus (radius=-1),
            # and the driver must never collect an unbounded
            # |passages| x |queries| result into one JSON response.  The
            # row_number window bounds the collect at |queries| x limit and
            # keeps each query's own best in-band hits (a single global
            # LIMIT ordered by query_idx would let an early query's weakest
            # hits crowd later queries out entirely).
            rows = sorted(
                scored.filter(
                    (F.col("score") > radius) & (F.col("score") <= range_filter)
                )
                .withColumn("rank", F.row_number().over(by_score))
                .filter(F.col("rank") <= limit)
                .select("query_idx", "id", "score")
                .collect(),
                key=lambda r: (r["query_idx"], -r["score"], r["id"]),
            )
            hits = [
                {"query": int(r["query_idx"]), "passage_id": r["id"], "score": r["score"]}
                for r in rows
            ]
        elif mode == "grouping":
            from vector_graph_rag_spark.queries.search_api import (
                best_hit_per_group,
            )

            # one kernel with the registered grouping_search_topk query:
            # map-side-combined min(struct(-score, id)), never a
            # corpus-wide window; only the group-reduced frame is ranked.
            # A passage joins the entities it mentions.
            mentions = g.entity_passage.select(
                "entity_id", F.col("passage_id").alias("id")
            )
            best = best_hit_per_group(
                scored.select("query_idx", "id", "score").join(mentions, "id"),
                ["query_idx", "entity_id"],
                id_col="id",
            )
            rows = sorted(
                best.withColumn("group_rank", F.row_number().over(by_entity_score))
                .filter(F.col("group_rank") <= k)
                .collect(),
                key=lambda r: (r["query_idx"], r["group_rank"]),
            )
            hits = [
                {
                    "query": int(r["query_idx"]),
                    "entity_id": r["entity_id"],
                    "passage_id": r["id"],
                    "score": r["score"],
                    "rank": int(r["group_rank"]),
                }
                for r in rows
            ]
        elif mode == "mmr":
            # Diversity-aware top-k: cosine candidate pool per query
            # (max(20, 4*top_k), so top_k is never silently capped by a
            # fixed pool), then the SAME greedy integer-MMR kernel the
            # registered mmr_diversity_rerank gates
            # (search_api.mmr_greedy_select).  String passage ids ride
            # through the fold as their candidate rank (bigint; the rank
            # already encodes the best-score-then-lowest-id tie order) and
            # join back after selection; the collect is bounded at
            # |queries| x k.
            from vector_graph_rag_spark.operators.pq import PQ_SCALE
            from vector_graph_rag_spark.queries.search_api import (
                mmr_greedy_select,
            )

            def qz(c):
                return F.transform(
                    c, lambda x: F.round(x.cast("double") * PQ_SCALE).cast("long")
                )

            pool = max(20, 4 * k)
            cand = (
                scored.withColumn("cand_idx", F.row_number().over(by_score))
                .filter(F.col("cand_idx") <= pool)
                .select(
                    F.col("query_idx").alias("query_id"),
                    "id",
                    F.col("cand_idx").cast("bigint").alias("vec_id"),
                    qz(F.col("pvec")).alias("qv"),
                    # rel IS the pool's admission metric: the rounded
                    # cosine scaled to the integer domain (PQ_SCALE^2, the
                    # same scale as the qv-dot diversity penalty inside the
                    # kernel) — selection and rerank share one metric, so
                    # mmr ordering stays consistent with topk mode.
                    F.round(F.col("score") * PQ_SCALE * PQ_SCALE)
                    .cast("long")
                    .alias("rel"),
                )
                # two consumers (selection + id join-back) of a
                # |queries| x pool frame — pin it once
                .localCheckpoint(eager=True)
            )
            sel = mmr_greedy_select(
                cand.select("query_id", "vec_id", "rel", "qv"), k
            )
            back = cand.select("query_id", "vec_id", "id")
            rows = sorted(
                sel.join(back, ["query_id", "vec_id"]).collect(),
                key=lambda r: (r["query_id"], r["sel_rank"]),
            )
            hits = [
                {
                    "query": int(r["query_id"]),
                    "passage_id": r["id"],
                    "rel": int(r["rel"]),
                    "mmr_score": int(r["mmr_score"]),
                    "rank": int(r["sel_rank"]),
                }
                for r in rows
            ]
        elif mode == "maxsim":
            # Late-interaction multi-vector search (the Milvus 2.5 /
            # BGE-M3 shape): both sides contribute their first 8
            # whitespace tokens as per-token embeddings; score = sum over
            # query tokens of the max dot against the passage's token
            # vectors — one kernel with the registered colbert_maxsim_topk
            # (search_api.maxsim_topk).  Collect bounded at
            # |queries| x top_k.
            from vector_graph_rag_spark.queries.search_api import (
                _MAXSIM_DOC_TOKS,
                maxsim_topk,
            )

            toks = F.slice(F.split("text", " "), 1, _MAXSIM_DOC_TOKS)
            d_toks = (
                g.passages.filter(F.col("text").isNotNull())
                .select("id", F.explode(toks).alias("tok"))
                .select("id", mock_embedding("tok").alias("v"))
            )
            qtok = F.slice(F.split("qtext", " "), 1, _MAXSIM_DOC_TOKS)
            q_toks = _queries_dataframe(spark, qtexts).select(
                "query_idx", F.posexplode(qtok).alias("qpos", "tok")
            ).select("query_idx", "qpos", mock_embedding("tok").alias("qv"))
            rows = sorted(
                maxsim_topk(
                    d_toks, q_toks, k, doc_id="id", query_id="query_idx"
                ).collect(),
                key=lambda r: (r["query_idx"], r["rank"]),
            )
            hits = [
                {
                    "query": int(r["query_idx"]),
                    "passage_id": r["id"],
                    "maxsim": r["maxsim"],
                    "rank": int(r["rank"]),
                }
                for r in rows
            ]
        else:  # topk
            # Milvus-style pagination: `offset` skips that many best hits
            # per query, then `top_k` are returned (rank stays absolute so
            # pages compose).  Collect bounded at |queries| x top_k.
            rows = sorted(
                scored.withColumn("rank", F.row_number().over(by_score))
                .filter(
                    (F.col("rank") > offset) & (F.col("rank") <= offset + k)
                )
                .select("query_idx", "id", "score", "rank")
                .collect(),
                key=lambda r: (r["query_idx"], r["rank"]),
            )
            hits = [
                {
                    "query": int(r["query_idx"]),
                    "passage_id": r["id"],
                    "score": r["score"],
                    "rank": int(r["rank"]),
                }
                for r in rows
            ]
        return jsonify({"mode": mode, "hits": hits})

    return app


def run_server(spark=None, host: str = "127.0.0.1", port: int = 8000):
    """Dev server (reference app.py:914 run_server)."""
    if spark is None:
        from vector_graph_rag_spark.session import get_spark

        spark = get_spark()
    create_app(spark).run(host=host, port=port)

"""The two workloads, run as a single-client closed loop.

Each workload has three operation kinds that map onto the same metric
names, so every run reports every end-to-end metric:

==============  =====================  ===========================
metric          rag_query_ingest       index_ingest
==============  =====================  ===========================
query_p50_s     POST /query            term_index.search_term_index
search_p50_s    POST /search (topk)    vector_index.search_index
ingest_*        POST /add_documents    one batch through the dedup,
                                       vector and term shard stores
==============  =====================  ===========================

Phases: generate inputs -> set up ``SETUP_REPS`` times (timed, median
reported) -> untimed warm-up of the same operations -> measured phase of
whole cycles, started while fewer than ``--seconds`` have elapsed.  Every
answer is checked against ``reference``; a failure or wrong answer counts
in ``failed``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict

import numpy as np

import gen
import reference
from spans import SparkCounters, Tracer, cpu_steal_share, process_tree_cpu_s

SETUP_REPS = 3
MAX_CYCLES = 16

# rag_query_ingest sizes: a standing graph, then cycles of one 200-doc add
# (20% re-upserts of live passages), four /query (3 x degree 1, 1 x degree
# 2) and three /search.  /search alternates with degree-1 /query, so each
# read route has several samples spread over the cycle and one slow request
# does not set its median.  The warm-up is one of each read request.
RAG_PASSAGES = 1000
RAG_ENTITIES = 2000
RAG_ADD_DOCS = 200
RAG_REPLACE = 0.2
RAG_TOP_K = 5
RAG_CYCLE = ("add", "query_d1", "search", "query_d1", "search", "query_d1", "search", "query_d2")
RAG_WARMUP = ("query_d1", "query_d2", "search")

# index_ingest sizes: 1000-doc batches, then six term + six vector lookups.
IDX_BATCH = 1000
IDX_TRAIN = 2000
IDX_LOOKUPS = 6
IDX_K = 10
IDX_NPROBE = 2


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile (a run has too few samples for a tail one)."""
    s = sorted(xs)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def du(path: str) -> int:
    """Bytes of every file committed under ``path``."""
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class Harness:
    """Runs operations under their own job group, times, checks and
    (when tracing) reads their Spark counters."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.counters = SparkCounters(spark)
        self.tracer = Tracer(trace, self.counters)
        self.trace = trace
        self.measuring = False
        self.records: list[dict] = []
        self.op_log: list[list] = []  # (kind, jobs[, stages, tasks]) of every op, in order
        self.unmeasured_wrong = 0
        self.n_ops = 0
        self.t0 = time.perf_counter()
        self.phases: dict[str, float] = {}
        self.steal0 = cpu_steal_share()

    def phase(self, name: str) -> None:
        """Mark the end of a phase (wall seconds since the previous mark)."""
        now = time.perf_counter()
        self.phases[name] = round(now - self.t0, 3)
        self.t0 = now

    def op(self, kind: str, span: str, fn, check):
        self.n_ops += 1
        group = self.counters.begin(kind)
        self.tracer.start_op(self.n_ops, group)
        t0 = time.perf_counter()
        try:
            result = self.tracer.span(span, fn)
            err = None
        except Exception:  # an engine failure is a counted, reported op failure
            result, err = None, traceback.format_exc()
        wall = time.perf_counter() - t0
        if err is not None:
            print(f"[perfbench] {kind} failed:\n{err}", file=sys.stderr)
            ok = False
        else:
            ok = bool(check(result))
            if not ok:
                print(f"[perfbench] {kind}: wrong answer", file=sys.stderr)
        rec = {"kind": kind, "op": self.n_ops, "s": wall, "ok": ok, "jobs": len(self.counters.job_ids(group))}
        if self.trace:
            rec["spark"] = self.counters.read(group, wall)
            self.op_log.append([kind, rec["jobs"], rec["spark"]["stages"], rec["spark"]["tasks"]])
        else:
            self.op_log.append([kind, rec["jobs"]])
        if self.measuring:
            self.records.append(rec)
        elif not ok:
            self.unmeasured_wrong += 1
        return result

    def setup(self, fn) -> float:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    def measure(self, seconds: float, cycle_fn) -> tuple[float, float]:
        """Run whole cycles while fewer than ``seconds`` have elapsed;
        returns (wall seconds, CPU seconds of the JVM tree + this process)."""
        jvm = self.spark.sparkContext._gateway.proc.pid
        cpu0 = process_tree_cpu_s(jvm)
        self.measuring = True
        t0 = time.perf_counter()
        for i in range(MAX_CYCLES):
            if time.perf_counter() - t0 >= seconds:
                break
            cycle_fn(i)
        wall = time.perf_counter() - t0
        self.measuring = False
        return wall, process_tree_cpu_s(jvm) - cpu0

    def latencies(self, kinds: tuple[str, ...]) -> list[float]:
        return [r["s"] for r in self.records if r["kind"] in kinds]

    def end_to_end(self, setup_s, wall, cpu, query_kinds, search_kind, ingest_kind,
                   docs_per_ingest, write_bytes, input_bytes, stored_bytes, live_bytes) -> dict:
        q = self.latencies(query_kinds)
        ing = self.latencies((ingest_kind,))
        n = len(self.records)
        return {
            "setup_s": statistics.median(setup_s),
            "query_p50_s": percentile(q, 0.5),
            "search_p50_s": percentile(self.latencies((search_kind,)), 0.5),
            "ingest_batch_p50_s": percentile(ing, 0.5),
            "ingest_docs_per_s": docs_per_ingest * len(ing) / sum(ing),
            "requests_per_s": n / wall,
            "cpu_s_per_op": cpu / n,
            "write_bytes_per_input_byte": write_bytes / input_bytes,
            "stored_bytes_per_input_byte": stored_bytes / live_bytes,
        }

    def failed(self) -> int:
        return sum(not r["ok"] for r in self.records)

    def spark_layers(self, kinds: list[str]) -> dict:
        out = {}
        fields = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                  "executor_run_s", "executor_cpu_s", "gc_s", "driver_gap_s")
        for k in kinds:
            recs = [r["spark"] for r in self.records if r["kind"] == k]
            for f in fields:
                out[f"spark.{k}.{f}"] = statistics.median(r.get(f, 0.0) for r in recs) if recs else 0.0
        return out

    def span_stats(self, name: str) -> tuple[float, float]:
        """(seconds per call, jobs per call) over measured-phase spans."""
        ops = {r["op"] for r in self.records}
        ss = [s for s in self.tracer.spans if s["name"] == name and s["op"] in ops]
        if not ss:
            return 0.0, 0.0
        return sum(s["end"] - s["start"] for s in ss) / len(ss), sum(s["jobs"] for s in ss) / len(ss)

    def self_s(self, name: str) -> float:
        """Median self time of measured-phase spans named ``name``."""
        ops = {r["op"] for r in self.records}
        xs = [x for op, x in self.tracer.self_times().get(name, []) if op in ops]
        return statistics.median(xs) if xs else 0.0


SPARK_KINDS = ["query_d1", "query_d2", "search", "add", "index_batch", "term_search", "vector_search"]


def layer_metrics(h: Harness, extra: dict) -> dict:
    """Every per-layer metric; a layer the workload does not touch reads 0."""
    out = h.spark_layers(SPARK_KINDS)
    for name in ("sources.catalog.read_graph", "sources.catalog.graph_stats"):
        s, j = h.span_stats(name)
        out[f"{name}.s"] = s
        out[f"{name}.jobs"] = j
    for name in (
        "sources.catalog.write_graph",
        "graph.crud.upsert_passages",
        "graph.expand.expand_subgraph",
        "graph.retrieve.retrieve_passages",
        "streaming.dedup_index.batch_signatures",
        "streaming.dedup_index.probe_index",
        "streaming.dedup_index.append_to_index",
        "streaming.vector_index.append_to_index",
        "streaming.vector_index.search_index",
        "streaming.term_index.append_term_batch",
        "streaming.term_index.search_term_index",
    ):
        out[f"{name}.s"] = h.span_stats(name)[0]
    for route in ("query", "search", "add_documents"):
        out[f"api.{route}.self_s"] = h.self_s(f"api.{route}")
    out["spark.cached_mb"] = h.counters.cached_mb()
    n = len(h.records)
    out["workload.error_ratio"] = h.failed() / n if n else 1.0
    out["trace.bookkeeping_s_per_op"] = h.tracer.overhead_s / max(1, h.n_ops)
    workload_only = (
        "sources.catalog.write_graph.bytes",
        "sources.catalog.write_graph.files_per_table",
        "streaming.dedup_index.append_bytes",
        "streaming.dedup_index.planted_pair_recall",
        "streaming.dedup_index.pairs_found",
        "streaming.vector_index.append_bytes",
        "streaming.vector_index.recall_at_10",
        "streaming.term_index.append_bytes",
    )
    out.update({k: extra.get(k, 0.0) for k in workload_only})
    return out


# ---------------------------------------------------------------- rag_query_ingest


def rag_query_ingest(spark, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from vector_graph_rag_spark.api import app as app_mod
    from vector_graph_rag_spark.sources.catalog import GraphCatalog

    corpus = gen.GraphCorpus(seed, RAG_PASSAGES, RAG_ENTITIES)
    ref = reference.GraphReference(corpus.base)
    live = sorted(ref.text)
    cycles = []
    for kinds in [RAG_WARMUP] + [RAG_CYCLE] * MAX_CYCLES:
        if "add" in kinds:
            batch = corpus.add_batch(RAG_ADD_DOCS, RAG_REPLACE, live)
            live = sorted(set(live) | {d["doc_id"] for d in batch})
        reqs = []
        for kind in kinds:
            if kind == "add":
                reqs.append(("add", "/add_documents", {"documents": batch}))
            elif kind == "search":
                reqs.append(("search", "/search", {"queries": [" ".join(corpus.seeds(3))], "mode": "topk", "top_k": RAG_TOP_K}))
            else:
                reqs.append((kind, "/query", {"seed_entities": corpus.seeds(2), "degree": int(kind[-1]), "top_k": RAG_TOP_K}))
        cycles.append(reqs)

    h = Harness(spark, trace)
    t = h.tracer
    t.wrap(GraphCatalog, "read_graph", "sources.catalog.read_graph")
    t.wrap(GraphCatalog, "write_graph", "sources.catalog.write_graph")
    t.wrap(GraphCatalog, "graph_stats", "sources.catalog.graph_stats")
    t.wrap(app_mod, "upsert_passages", "graph.crud.upsert_passages")
    t.wrap(app_mod, "expand_subgraph", "graph.expand.expand_subgraph")
    t.wrap(app_mod, "retrieve_passages", "graph.retrieve.retrieve_passages")
    root = os.path.join(work, "graphs")
    client = app_mod.create_app(spark, catalog_root=root).test_client()

    def stats_ok(resp) -> bool:
        body = resp.get_json()
        return resp.status_code == 200 and (body["passages"], body["entities"], body["relations"]) == (
            len(ref.text), len(ref.ent_rels), len(ref.rel_ents))

    setup_s = []
    for rep in range(SETUP_REPS):
        name = f"g{rep}"
        body = {"graph_name": name, "documents": corpus.base}
        setup_s.append(h.setup(lambda: h.op("setup", "api.add_documents",
                                            lambda: client.post("/add_documents", json=body), stats_ok)))
    h.phase("setup")
    for rep in range(SETUP_REPS - 1):
        client.delete(f"/graph/g{rep}")
    graph = f"g{SETUP_REPS - 1}"
    gdir = os.path.join(root, graph)
    write_bytes = [0]
    input_bytes = [0]

    def run(kind, route, body):
        body = {**body, "graph_name": graph}
        if kind == "add":
            docs = body["documents"]

            def check(resp):
                ref.upsert(docs)
                return stats_ok(resp)

            h.op(kind, "api.add_documents", lambda: client.post(route, json=body), check)
            if h.measuring:
                write_bytes[0] += du(gdir)
                input_bytes[0] += sum(len(d["text"].encode()) for d in docs)
        elif kind == "search":
            h.op(kind, "api.search", lambda: client.post(route, json=body),
                 lambda r: r.status_code == 200 and reference.check_search(ref, body, r.get_json()))
        else:
            h.op(kind, "api.query", lambda: client.post(route, json=body),
                 lambda r: r.status_code == 200 and reference.check_query(ref, body, r.get_json()))

    for req in cycles[0]:  # warm-up
        run(*req)
    h.phase("warmup")
    wall, cpu = h.measure(seconds, lambda i: [run(*req) for req in cycles[i + 1]])
    h.phase("measure")

    stored = du(gdir)
    live_bytes = sum(len(x.encode()) for x in ref.text.values())
    e2e = h.end_to_end(setup_s, wall, cpu, ("query_d1", "query_d2"), "search", "add",
                       RAG_ADD_DOCS, write_bytes[0], input_bytes[0], stored, live_bytes)
    tables = [d for d in os.listdir(gdir) if d.endswith(".parquet")]
    parts = sum(len([f for f in os.listdir(os.path.join(gdir, d)) if f.startswith("part-")]) for d in tables)
    adds = sum(1 for r in h.records if r["kind"] == "add")
    extra = {
        "sources.catalog.write_graph.bytes": write_bytes[0] / max(1, adds),
        "sources.catalog.write_graph.files_per_table": parts / len(tables),
    }
    return finish(h, e2e, extra, trace, digest(corpus.base, cycles))


# ---------------------------------------------------------------- index_ingest


def _kmeans(x: np.ndarray, k: int, rng: np.random.Generator, iters: int = 8) -> np.ndarray:
    c = x[rng.choice(len(x), k, replace=False)]
    for _ in range(iters):
        a = np.argmax(x @ c.T, axis=1)
        for j in range(k):
            m = x[a == j]
            if len(m):
                c[j] = m.mean(axis=0)
        c /= np.linalg.norm(c, axis=1, keepdims=True)
    return c


def index_ingest(spark, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from pyspark.sql import functions as F

    from vector_graph_rag_spark.functions.literals import inline_rows
    from vector_graph_rag_spark.operators.ivf import collect_centroids
    from vector_graph_rag_spark.operators.pq import quantize_embeddings, train_pq_codebooks
    from vector_graph_rag_spark.streaming import dedup_index, term_index, vector_index

    corpus = gen.IndexCorpus(seed)
    train = corpus.vectors(IDX_TRAIN)
    cent_np = _kmeans(train, 16, np.random.default_rng([seed, 3]))
    batches = [corpus.batch(IDX_BATCH) for _ in range(MAX_CYCLES + 1)]  # batch 0 seeds the stores
    lookups = [corpus.queries(IDX_LOOKUPS) for _ in range(MAX_CYCLES + 1)]
    train_rows = [(i, [float(v) for v in row]) for i, row in enumerate(train)]
    cent_rows = [(i, [float(v) for v in row]) for i, row in enumerate(cent_np)]

    h = Harness(spark, trace)
    span = h.tracer.span
    terms = reference.TermReference()
    vecs: dict[int, np.ndarray] = {}
    dedup = {"planted": 0, "found": 0, "pairs": 0}
    append_bytes = defaultdict(int)
    input_bytes = [0, 0]  # measured phase, whole standing index
    recalls = []
    q = {}  # trained quantizers and the standing store dirs

    def ingest(bi: int, kind: str) -> None:
        b = batches[bi]
        dd, vd, td = q["dirs"]
        prior = set(vecs)
        ids = {d for d, _ in b["docs"]}
        rows = [(d, t, [float(x) for x in v]) for (d, t), v in zip(b["docs"], b["vecs"])]

        def run():
            df = spark.createDataFrame(rows, "doc_id long, text string, embedding array<float>")
            docs = df.select("doc_id", "text")
            sig = span("streaming.dedup_index.batch_signatures",
                       lambda: dedup_index.batch_signatures(docs).localCheckpoint(eager=True))
            pairs = span("streaming.dedup_index.probe_index",
                         lambda: dedup_index.probe_index(spark, dd, sig).collect())
            span("streaming.dedup_index.append_to_index", dedup_index.append_to_index, sig, dd, bi)
            span("streaming.vector_index.append_to_index", vector_index.append_to_index,
                 df.select(F.col("doc_id").alias("vec_id"), "embedding"), q["cent_rows"], q["books"], vd, bi)
            span("streaming.term_index.append_term_batch", term_index.append_term_batch, docs, td, bi)
            return pairs

        def check(pairs) -> bool:
            got = {(int(r["index_doc_id"]), int(r["new_doc_id"])) for r in pairs}
            if h.measuring:
                dedup["planted"] += len(b["planted"])
                dedup["found"] += len(got & set(b["planted"]))
                dedup["pairs"] += len(got)
            return len(got) == len(pairs) and all(
                int(r["index_doc_id"]) in prior and int(r["new_doc_id"]) in ids
                and 0.0 <= r["est_jaccard"] <= 1.0 for r in pairs)

        h.op(kind, "op.index_batch", run, check)
        nbytes = sum(len(t.encode()) + 4 * len(v) for (_, t), v in zip(b["docs"], b["vecs"]))
        if h.measuring:
            input_bytes[0] += nbytes
            append_bytes["dedup"] += du(os.path.join(dd, f"batch={bi}")) + du(os.path.join(dd, "bands", f"batch={bi}"))
            append_bytes["vector"] += du(os.path.join(vd, f"batch={bi}"))
            append_bytes["term"] += du(os.path.join(td, f"batch={bi}"))

    def setup() -> None:
        """Train the product quantizer codebooks and the IVF centroid table."""
        emb = spark.createDataFrame(train_rows, "vec_id long, embedding array<float>")
        q["books"] = train_pq_codebooks(quantize_embeddings(emb), updates=1)
        q["cent"] = spark.createDataFrame(cent_rows, "centroid_id int, cvec array<double>")
        q["cent_rows"] = collect_centroids(q["cent"])

    setup_s = [h.setup(setup) for _ in range(SETUP_REPS)]
    h.phase("setup")
    q["dirs"] = [os.path.join(work, n) for n in ("dedup", "vector", "term")]

    def absorb(bi: int) -> None:
        b = batches[bi]
        terms.add(b["docs"])
        for (d, _), v in zip(b["docs"], b["vecs"]):
            vecs[d] = v
        input_bytes[1] += sum(len(t.encode()) + 4 * len(v) for (_, t), v in zip(b["docs"], b["vecs"]))

    books, cent, td, vd = q["books"], q["cent"], q["dirs"][2], q["dirs"][1]

    def lookups_after(bi: int, n: int) -> None:
        ids = np.array(sorted(vecs))
        mat = np.stack([vecs[i] for i in ids])
        live = set(vecs)
        for qi, qq in enumerate(lookups[bi][:n]):
            qdf = inline_rows(spark, [(qi, qq["text"])], "query_id bigint, text string")
            want = terms.search(qq["text"], IDX_K)
            h.op("term_search", "op.term_search",
                 lambda: span("streaming.term_index.search_term_index",
                              lambda: term_index.search_term_index(spark, td, qdf, k=IDX_K).collect()),
                 lambda rows: [(int(r["doc_id"]), int(r["score"])) for r in rows] == want)
            vdf = inline_rows(spark, [(qi, [float(x) for x in qq["vec"]])], "query_id bigint, qvec array<float>")
            rows = h.op("vector_search", "op.vector_search",
                        lambda: span("streaming.vector_index.search_index",
                                     lambda: vector_index.search_index(spark, vd, vdf, cent, books, k=IDX_K,
                                                                       nprobe=IDX_NPROBE).collect()),
                        lambda rows: reference.check_ann(
                            sorted(((int(r["vec_id"]), int(r["adc_dist"]), int(r["rank"])) for r in rows),
                                   key=lambda x: x[2]), IDX_K, live))
            if h.measuring and rows:
                exact = set(ids[np.argsort(-(mat @ qq["vec"]), kind="stable")[:IDX_K]].tolist())
                recalls.append(len(exact & {int(r["vec_id"]) for r in rows}) / IDX_K)

    ingest(0, "warmup")  # warm-up: the first batch and its lookups
    absorb(0)
    lookups_after(0, IDX_LOOKUPS)
    h.phase("warmup")

    def cycle(i: int) -> None:
        ingest(i + 1, "index_batch")
        absorb(i + 1)
        lookups_after(i + 1, IDX_LOOKUPS)

    wall, cpu = h.measure(seconds, cycle)
    h.phase("measure")
    stored = sum(du(p) for p in q["dirs"])
    n_batches = sum(1 for r in h.records if r["kind"] == "index_batch")
    e2e = h.end_to_end(setup_s, wall, cpu, ("term_search",), "vector_search", "index_batch",
                       IDX_BATCH, sum(append_bytes.values()), input_bytes[0], stored, input_bytes[1])
    extra = {
        "streaming.dedup_index.append_bytes": append_bytes["dedup"] / max(1, n_batches),
        "streaming.dedup_index.planted_pair_recall": dedup["found"] / max(1, dedup["planted"]),
        "streaming.dedup_index.pairs_found": float(dedup["pairs"]),
        "streaming.vector_index.append_bytes": append_bytes["vector"] / max(1, n_batches),
        "streaming.vector_index.recall_at_10": statistics.mean(recalls) if recalls else 0.0,
        "streaming.term_index.append_bytes": append_bytes["term"] / max(1, n_batches),
    }
    return finish(h, e2e, extra, trace, digest(batches, lookups, train))


def digest(*inputs) -> str:
    """sha256 of the generated inputs (numpy arrays as their bytes)."""
    hsh = hashlib.sha256()
    hsh.update(json.dumps(inputs, sort_keys=True, default=lambda a: a.tobytes().hex()).encode())
    return hsh.hexdigest()


def finish(h: Harness, e2e: dict, extra: dict, trace: bool, inputs_sha: str) -> dict:
    attempted = len(h.records)
    failed = h.failed()
    return {
        "inputs_sha": inputs_sha,
        "deterministic": {k: round(e2e[k], 9) for k in ("write_bytes_per_input_byte", "stored_bytes_per_input_byte")}
        | {k: extra[k] for k in ("streaming.dedup_index.pairs_found",) if k in extra},
        "correct": failed == 0 and h.unmeasured_wrong == 0,
        "attempted": attempted,
        "failed": failed,
        "error_ratio": failed / attempted if attempted else 1.0,
        "end_to_end": e2e,
        "per_layer": layer_metrics(h, extra) if trace else {},
        "op_log": h.op_log,
        "samples": {k: len(h.latencies((k,))) for k in SPARK_KINDS},
        "latencies": [[r["kind"], round(r["s"], 3)] for r in h.records],
        "phases": h.phases,
        "host_steal_share": round((cpu_steal_share()[0] - h.steal0[0]) / max(1, cpu_steal_share()[1] - h.steal0[1]), 4),
    }


WORKLOADS = {"rag_query_ingest": rag_query_ingest, "index_ingest": index_ingest}

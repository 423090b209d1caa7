"""Pure-Python reference answers the benchmark checks the engine against.

- ``GraphReference``: the /query dataflow (seed entities -> k-hop
  expansion with the "new entities only" rule -> supporting-relation
  count -> passage_id tie-break) over the generated triplets, with
  re-upserts applied the way ``graph.crud.upsert_passages`` applies them
  (a replaced passage loses its relation->passage edges; entity->relation
  edges are kept).
- ``TermReference``: exact sparse dot product over whitespace tokens, the
  ``search_term_index`` scoring.
- structural checks for answers with no cheap exact twin (/search,
  IVF-PQ search, dedup probe).
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict

_NORM = re.compile(r"[^A-Za-z0-9 ]")


def _norm(s: str) -> str:
    return _NORM.sub(" ", s.lower()).strip(" ")


def _eid(name: str) -> str:
    return "e:" + _norm(name)


def _rid(s: str, p: str, o: str) -> str:
    return "r:" + _norm(f"{s} {p} {o}")


class GraphReference:
    def __init__(self, docs: list[dict]):
        self.ent_rels: dict[str, set] = defaultdict(set)
        self.rel_ents: dict[str, set] = defaultdict(set)
        self.rel_pass: dict[str, set] = defaultdict(set)
        self.pass_rels: dict[str, set] = defaultdict(set)
        self.text: dict[str, str] = {}
        self.upsert(docs)

    def upsert(self, docs: list[dict]) -> None:
        for d in docs:
            pid = d["doc_id"]
            for r in self.pass_rels.pop(pid, ()):
                self.rel_pass[r].discard(pid)
            self.text.pop(pid, None)
        for d in docs:
            pid = d["doc_id"]
            self.text[pid] = d["text"]
            for t in d["triplets"]:
                r = _rid(t["subject"], t["predicate"], t["object"])
                for e in (_eid(t["subject"]), _eid(t["object"])):
                    self.ent_rels[e].add(r)
                    self.rel_ents[r].add(e)
                self.rel_pass[r].add(pid)
                self.pass_rels[pid].add(r)

    def query(self, seed_names: list[str], degree: int, top_k: int) -> list[tuple]:
        entities = {_eid(n) for n in seed_names}
        relations = set()
        for e in entities:
            relations |= self.ent_rels.get(e, set())
        for _ in range(degree):
            hop = set()
            for r in relations:
                hop |= self.rel_ents[r]
            new = hop - entities
            entities |= new
            for e in new:
                relations |= self.ent_rels[e]
        score = Counter()
        for r in relations:
            for p in self.rel_pass.get(r, ()):
                score[p] += 1
        ranked = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
        return [(p, i + 1, n, self.text[p]) for i, (p, n) in enumerate(ranked)]


def check_query(ref: GraphReference, body: dict, payload: dict) -> bool:
    want = ref.query(body["seed_entities"], body["degree"], body["top_k"])
    got = [
        (p["passage_id"], p["rank"], p["n_supporting_relations"], p["text"])
        for p in payload.get("passages", [])
    ]
    return got == want


def check_search(ref: GraphReference, body: dict, payload: dict) -> bool:
    """k hits per query, ranks 1..k, scores non-increasing, ids live."""
    hits = payload.get("hits", [])
    k = body["top_k"]
    for q in range(len(body["queries"])):
        h = [x for x in hits if x["query"] == q]
        if len(h) != min(k, len(ref.text)):
            return False
        if [x["rank"] for x in h] != list(range(1, len(h) + 1)):
            return False
        scores = [x["score"] for x in h]
        if any(a < b for a, b in zip(scores, scores[1:])):
            return False
        if any(x["passage_id"] not in ref.text for x in h):
            return False
    return True


class TermReference:
    def __init__(self):
        self.postings: dict[str, dict[int, int]] = defaultdict(dict)

    def add(self, docs: list[tuple[int, str]]) -> None:
        for did, text in docs:
            for term, tf in Counter(t for t in text.split(" ") if t).items():
                self.postings[term][did] = tf

    def search(self, text: str, k: int) -> list[tuple[int, int]]:
        score = Counter()
        for term, qw in Counter(t for t in text.split(" ") if t).items():
            for did, w in self.postings.get(term, {}).items():
                score[did] += qw * w
        return sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def check_ann(rows: list[tuple[int, int, int]], k: int, live: set) -> bool:
    """rows = (vec_id, adc_dist, rank) for one query, rank-ordered."""
    if len(rows) != k or [r[2] for r in rows] != list(range(1, k + 1)):
        return False
    d = [r[1] for r in rows]
    return all(a <= b for a, b in zip(d, d[1:])) and all(r[0] in live for r in rows)

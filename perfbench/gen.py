"""Seeded input generators for the two workloads.

Everything here is pure Python + NumPy and runs before the timed phase;
the engine only ever receives the generated documents, requests and
vectors.  The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import random

import numpy as np

PREDICATES = [f"rel{i:02d}" for i in range(24)]
FILLER = [f"w{i:03d}" for i in range(400)]


class Zipf:
    """Truncated Zipf(s) over ranks 0..n-1 (rank 0 hottest)."""

    def __init__(self, n: int, s: float):
        w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
        self.cdf = np.cumsum(w / w.sum())
        self.n = n

    def draw(self, rng: np.random.Generator, size: int) -> np.ndarray:
        r = np.searchsorted(self.cdf, rng.random(size), side="right")
        return np.minimum(r, self.n - 1)


def entity_name(i: int) -> str:
    return f"ent{i:05d}"


def make_passage(pid: str, ents: np.ndarray, preds: np.ndarray) -> dict:
    """One passage with four triplets; the text spells the triplets out
    (the /search and term paths read it)."""
    trips = [
        {
            "subject": entity_name(int(ents[2 * j])),
            "predicate": PREDICATES[int(preds[j])],
            "object": entity_name(int(ents[2 * j + 1])),
        }
        for j in range(len(preds))
    ]
    text = " . ".join(f"{t['subject']} {t['predicate']} {t['object']}" for t in trips)
    return {"doc_id": pid, "text": text, "triplets": trips}


class GraphCorpus:
    """Passages with four triplets each over a Zipf(1.1) entity vocabulary."""

    def __init__(self, seed: int, n_passages: int, n_entities: int, zipf_s: float = 1.1):
        self.rng = np.random.default_rng([seed, 1])
        self.zipf = Zipf(n_entities, zipf_s)
        self.next_id = 0
        self.base = self.passages(n_passages)

    def _pid(self) -> str:
        pid = f"p{self.next_id:07d}"
        self.next_id += 1
        return pid

    def passages(self, n: int, ids: list[str] | None = None) -> list[dict]:
        ents = self.zipf.draw(self.rng, 8 * n)
        preds = self.rng.integers(0, len(PREDICATES), 4 * n)
        ids = ids if ids is not None else [self._pid() for _ in range(n)]
        return [
            make_passage(ids[i], ents[8 * i : 8 * i + 8], preds[4 * i : 4 * i + 4])
            for i in range(n)
        ]

    def seeds(self, n: int) -> list[str]:
        return [entity_name(int(e)) for e in self.zipf.draw(self.rng, n)]

    def add_batch(self, n: int, replace_frac: float, live_ids: list[str]) -> list[dict]:
        """``n`` docs; ``replace_frac`` of them reuse existing passage ids
        (upsert = cascade delete + insert), the rest are new."""
        n_rep = int(round(n * replace_frac))
        rep = [live_ids[int(i)] for i in self.rng.choice(len(live_ids), n_rep, replace=False)]
        return self.passages(n, ids=sorted(rep) + [self._pid() for _ in range(n - n_rep)])


# ---------------------------------------------------------------- index_ingest


class IndexCorpus:
    """Documents for the three shard stores: filler text with planted
    near-duplicates (10% of each batch copies an earlier batch's doc with
    one token changed) and a clustered 64-d vector per doc."""

    DIM = 64

    def __init__(self, seed: int, n_clusters: int = 16, doc_tokens: int = 48):
        self.rng = np.random.default_rng([seed, 2])
        self.py = random.Random(seed * 7919 + 3)
        self.centers = self.rng.normal(size=(n_clusters, self.DIM))
        self.centers /= np.linalg.norm(self.centers, axis=1, keepdims=True)
        self.word_zipf = Zipf(len(FILLER), 1.0)
        self.doc_tokens = doc_tokens
        self.next_id = 0
        self.texts: dict[int, str] = {}

    def vectors(self, n: int) -> np.ndarray:
        c = self.rng.integers(0, len(self.centers), n)
        v = self.centers[c] + 0.06 * self.rng.normal(size=(n, self.DIM))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return v.astype(np.float32)

    def _text(self) -> str:
        w = self.word_zipf.draw(self.rng, self.doc_tokens)
        return " ".join(FILLER[int(i)] for i in w)

    def batch(self, n: int, dup_frac: float = 0.1) -> dict:
        """{docs: [(doc_id, text)], vecs: float32[n, 64], planted: [(orig, dup)]}."""
        prior = sorted(self.texts)
        n_dup = int(round(n * dup_frac)) if prior else 0
        docs, planted = [], []
        for i in range(n):
            did = self.next_id
            self.next_id += 1
            if i < n_dup:
                orig = prior[self.py.randrange(len(prior))]
                toks = self.texts[orig].split(" ")
                pos = self.py.randrange(len(toks))
                toks[pos] = FILLER[self.py.randrange(len(FILLER))] + "x"
                text = " ".join(toks)
                planted.append((orig, did))
            else:
                text = self._text()
            docs.append((did, text))
        order = self.py.sample(range(n), n)  # planted dups are not all up front
        docs = [docs[i] for i in order]
        for did, text in docs:
            self.texts[did] = text
        return {"docs": docs, "vecs": self.vectors(n), "planted": planted}

    def queries(self, n: int) -> list[dict]:
        out = []
        for _ in range(n):
            w = self.word_zipf.draw(self.rng, 3)
            out.append({"text": " ".join(FILLER[int(i)] for i in w), "vec": self.vectors(1)[0]})
        return out

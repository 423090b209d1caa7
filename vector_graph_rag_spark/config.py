"""Engine configuration mirroring the reference's semantics-bearing defaults.

Reference: /root/reference/src/vector_graph_rag/config.py:83-122 — these
values change query *results* (not just performance), so they are part of the
engine's semantics and must match:

- entity_top_k / relation_top_k = 20        (config.py:83-88)
- entity_similarity_threshold  = 0.9        (config.py:89-92)
- relation_similarity_threshold = -1.0      (config.py:93-96, keep-all)
- expansion_degree = 1                      (config.py:97-99)
- relation_number_threshold = 1000          (config.py:100-103, eviction)
- final_top_k = 3                           (config.py:104-106)
- batch_size = 32                           (config.py:120-122)
- rerank num_select = 5                     (llm/reranker.py:276)
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class EngineConfig:
    # Retrieval semantics (reference config.py:83-106)
    entity_top_k: int = 20
    relation_top_k: int = 20
    entity_similarity_threshold: float = 0.9
    relation_similarity_threshold: float = -1.0
    expansion_degree: int = 1
    relation_number_threshold: int = 1000
    final_top_k: int = 3

    # LLM / embedding plumbing (config.py:120-122, reranker.py:276)
    batch_size: int = 32
    rerank_num_select: int = 5
    llm_temperature: float = 0.0

    # Embedding model shape (config.py:37-40 defaults to 3072-dim
    # text-embedding-3-large; our deterministic mock uses 16)
    embedding_dim: int = 16

    # Spark-side knobs (not in the reference — scale design)
    shuffle_partitions: int = 32
    # Checkpoint every expansion hop to cut lineage (SURVEY §7 risk list)
    checkpoint_expansion: bool = True
    # Broadcast threshold hint for frontier joins (rows, not bytes)
    broadcast_frontier_max_rows: int = 10_000_000

    # Storage layout: one directory per graph with six tables
    # (entities / relations / passages / entity_relation / relation_passage /
    # entity_passage),
    # mirroring the reference's collection_prefix multi-tenancy
    # (milvus.py:66-74).
    storage_root: str = "/tmp/vgrag_spark"

    extra: dict = field(default_factory=dict)


DEFAULT_CONFIG = EngineConfig()

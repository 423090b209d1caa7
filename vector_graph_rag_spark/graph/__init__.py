from vector_graph_rag_spark.graph.builder import (
    GraphTables,
    adjacency_arrays,
    explode_triplets,
    build_graph,
    synthetic_triplet_docs,
)
from vector_graph_rag_spark.graph.expand import expand_subgraph

__all__ = [
    "GraphTables",
    "adjacency_arrays",
    "explode_triplets",
    "build_graph",
    "synthetic_triplet_docs",
    "expand_subgraph",
]

"""Embedding similarity-search library (north-star module)."""

from prestodb_presto_spark.similarity.knn import (
    cosine_sql,
    dot_sql,
    quantized_sql,
    top_k_neighbors,
)
from prestodb_presto_spark.similarity.lsh import hyperplane_buckets, lsh_candidate_pairs

__all__ = [
    "quantized_sql",
    "dot_sql",
    "cosine_sql",
    "top_k_neighbors",
    "hyperplane_buckets",
    "lsh_candidate_pairs",
]

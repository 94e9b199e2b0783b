"""Brute-force cosine k-NN — the exact baseline for similarity search.

Scale shape: queries broadcast, corpus streams map-side (no shuffle of
corpus vectors); per-query top-k via window rank over the scored stream.
Vectors quantized to integers so scores are bit-deterministic (exact
int dot products; see queries/similarity_q.py for the oracle contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# Each helper renders Spark SQL text: the expression parses in one call,
# where the same tree built operator by operator through the Column API
# costs a py4j round trip per operator.


def quantized_sql(col: str = "embedding") -> str:
    """array<float> → array<bigint>, round(double(x) * 1000).  Quantize in
    DOUBLE, as the DuckDB oracles do: FLOAT * 1000 in single precision
    rounds differently on ~1 in 1e5 components, which flips threshold
    membership at sf0.1."""
    return f"transform({col}, x -> cast(round(cast(x as double) * 1000) as bigint))"


def dot_sql(a: str, b: str) -> str:
    """Integer dot product of two quantized vectors (exact for |v| < 2^26)."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0 as bigint), (acc, v) -> acc + v)"


def cosine_sql(qa: str, qb: str, na: str, nb: str) -> str:
    """Cosine from quantized vectors and their squared norms."""
    return f"cast({dot_sql(qa, qb)} as double) / sqrt({na}) / sqrt({nb})"


def top_k_neighbors(corpus: DataFrame, queries: DataFrame, k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    corpus/queries: DataFrames with (id_col, vec_col).  Returns
    (query_id, neighbor_id, rank, cosine) with deterministic tiebreak.
    """
    def prep(df, prefix):
        return df.selectExpr(
            f"{id_col} AS {prefix}_id", f"{quantized_sql(vec_col)} AS {prefix}_q"
        ).selectExpr("*", f"cast({dot_sql(f'{prefix}_q', f'{prefix}_q')} as double) AS {prefix}_n")

    c = prep(corpus, "c")
    q = prep(queries, "q")
    scored = c.join(F.broadcast(q), F.col("q_id") != F.col("c_id")).withColumn(
        "cosine", F.expr(cosine_sql("q_q", "c_q", "q_n", "c_n"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("c_id"))
    return (
        scored.select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            "cosine",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= k)
    )

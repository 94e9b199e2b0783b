"""IVF (inverted-file) approximate nearest neighbor — the partitioned
scale path for similarity search.

Reference semantics: the reference engine has no ANN operator; this is a
north-star pipeline module (SURVEY.md §6 "similarity search": brute-force
cosine as baseline, an IVF or LSH-bucketed variant as the scale path).
The LSH variant lives in similarity/lsh.py; this is the IVF one.

Structure (classic IVF, deterministic for the differential oracle):
  1. Coarse quantizer: K centroid vectors.  Chosen deterministically as
     the K lowest-id vectors (a 0-iteration k-means seeded by first-K —
     re-runnable on any engine, no RNG state).
  2. Assignment: every vector goes to the inverted list (cell) of its
     nearest centroid by cosine.  Centroids broadcast; the K candidate
     cells are scored map-side, and the per-vector argmax collapses in
     the partial aggregate before any shuffle (the K scored rows of one
     vector never leave their partition).
  3. Search: a query probes its ``n_probe`` nearest cells and scores
     only the vectors assigned there — touching ~n_probe/K of the corpus
     instead of all of it.  The probe table (queries × n_probe) is tiny
     and broadcasts, so candidate selection is a map-side semi-join
     against the indexed corpus; the only shuffle is the final per-query
     top-1 aggregate over candidates.

At 100 TB: persist the indexed corpus bucketed by ``cell`` (DataFrameWriter
.bucketBy) so repeated query batches prune entire files per cell; the
assignment pass is one map + one n-row shuffle regardless of K.

Determinism: vectors quantized to ints (round(x*1000)); integer dot
products are exact in double, so cosine and every argmax key are
bit-identical across engines (same convention as similarity/knn.py).
All argmax/ordering keys are (quantized-BIGINT cosine, lowest-id)
struct tuples — no float comparisons cross the engine boundary, and no
id-magnitude assumption (the former ``key*100 - cid`` arithmetic
needed bounded ids; struct ordering is exact for any BIGINT id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from prestodb_presto_spark.queries.util import guard_rows
from prestodb_presto_spark.similarity.knn import cosine_sql, dot_sql, quantized_sql

K_CENTROIDS = 16
N_PROBE = 4
# probe table = queries x n_probe rows and broadcasts: bound the batch so
# an oversized query set fails loudly instead of over-broadcasting
MAX_PROBE_QUERIES = 100_000


def _prep(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, q, nrm): quantized vector + exact squared norm."""
    return emb.selectExpr(f"{id_col} AS vec_id", f"{quantized_sql(vec_col)} AS q").selectExpr(
        "*", f"cast({dot_sql('q', 'q')} as double) AS nrm"
    )


def _argmax_key(cos_col, id_col):
    """Orderable (quantized cosine, -id) struct: max_by picks the
    highest cosine, lowest id on ties — exact for unbounded ids."""
    return F.struct(
        F.round(cos_col * 1e12).cast("bigint").alias("k"),
        (-id_col.cast("bigint")).alias("t"),
    )


def build_ivf(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = K_CENTROIDS,
) -> tuple[DataFrame, DataFrame]:
    """Returns (indexed, centroids).

    ``indexed``  = (vec_id, q, nrm, cell): the corpus with its inverted-
    list assignment attached (ready to be bucketed/persisted by cell).
    ``centroids`` = (cid, cq, cn): the coarse quantizer, broadcast-sized.
    """
    vecs = _prep(emb, id_col, vec_col)
    # deterministic first-K seeding = the K lowest ids (TakeOrdered, no
    # full sort; id-magnitude-independent, unlike a `< k` literal filter)
    cent = vecs.orderBy("vec_id").limit(k).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("cq"), F.col("nrm").alias("cn")
    )
    scored = vecs.join(F.broadcast(cent))
    # argmax key: quantized cosine, lowest-cid tiebreak
    key = _argmax_key(
        F.expr(cosine_sql("q", "cq", "nrm", "cn")), F.col("cid")
    )
    indexed = (
        scored.groupBy("vec_id")
        .agg(
            F.max_by("cid", key).alias("cell"),
            F.first("q").alias("q"),
            F.first("nrm").alias("nrm"),
        )
    )
    return indexed, cent


def write_ivf_index(
    emb: DataFrame,
    table_name: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = K_CENTROIDS,
) -> None:
    """Materialize the IVF index through the engine's own writer: the
    indexed corpus (vec_id, q, nrm, cell) BUCKETED by ``cell`` — so a
    later query batch's probe join prunes whole buckets per cell — plus
    the broadcast-sized coarse quantizer as ``<table>_centroids``.
    The production shape of SURVEY §6 ANN: index once per corpus
    snapshot, search every batch from the stored tables (same pattern
    as minhash.write_dedup_index)."""
    from prestodb_presto_spark.sources.io import write_table

    indexed, cent = build_ivf(emb, id_col, vec_col, k)
    write_table(indexed, bucket_by=(k, ["cell"]), table_name=table_name)
    write_table(cent, table_name=f"{table_name}_centroids")


def ivf_search_top1_indexed(
    indexed: DataFrame,
    cent: DataFrame,
    query_pred,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """Top-1 cosine neighbor for every indexed vector matching
    ``query_pred``, searching only the ``n_probe`` nearest inverted
    lists per query — over a PRE-BUILT (possibly persisted) index:
    ``indexed`` = (vec_id, q, nrm, cell), ``cent`` = (cid, cq, cn).

    Returns (query_id, neighbor_id, cosine) — cosine rounded to 6 dp.
    """
    queries = guard_rows(
        indexed.filter(query_pred),
        MAX_PROBE_QUERIES,
        "ivf_search_top1",
        "The probe table (queries x n_probe) broadcasts; IVF search is "
        "for query batches, not query=corpus self-joins — chunk the "
        "query set or use similarity/lsh.py's banded path for all-pairs.",
    ).select(
        F.col("vec_id").alias("qid"), F.col("q").alias("qq"), F.col("nrm").alias("qn")
    )
    probe_key = _argmax_key(
        F.expr(cosine_sql("qq", "cq", "qn", "cn")), F.col("cid")
    )
    probes = (
        queries.join(F.broadcast(cent))
        .withColumn("rk", F.row_number().over(Window.partitionBy("qid").orderBy(F.desc(probe_key))))
        .filter(F.col("rk") <= n_probe)
        .select("qid", "cid", "qq", "qn")
    )
    cand = indexed.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("cid")) & (F.col("vec_id") != F.col("qid")),
    )
    cand = cand.withColumn("cos", F.expr(cosine_sql("qq", "q", "qn", "nrm")))
    top_key = _argmax_key(F.col("cos"), F.col("vec_id"))
    return (
        cand.groupBy(F.col("qid").alias("query_id"))
        .agg(
            F.max_by("vec_id", top_key).alias("neighbor_id"),
            F.round(F.max("cos"), 6).alias("cosine"),
        )
        .orderBy("query_id")
    )


def ivf_search_top1(
    emb: DataFrame,
    query_pred,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = K_CENTROIDS,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """ivf_search_top1_indexed over an index derived in-query (the
    one-shot form; production persists the index with write_ivf_index
    and searches the stored tables)."""
    indexed, cent = build_ivf(emb, id_col, vec_col, k)
    return ivf_search_top1_indexed(indexed, cent, query_pred, n_probe)

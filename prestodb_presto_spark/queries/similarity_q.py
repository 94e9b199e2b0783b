"""Embedding similarity search over the `embeddings` table (north star).

Spark-first design:
  - dot products / norms are JVM array expressions (zip_with + aggregate),
    not Python UDFs;
  - brute-force top-k broadcasts the (small) query set against the corpus —
    at 100 TB corpus scale this is a map-only pass, no shuffle of vectors;
  - the scale path (LSH bucketing) shuffles only (bucket, id) pairs.

Determinism for the differential oracle: vectors are quantized to
integers (round(x*1000)); integer dot products and norms are exact in
double (< 2^53), so cosine = dot/sqrt(na)/sqrt(nb) is bit-identical
across engines regardless of summation order.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prestodb_presto_spark.queries import query
from prestodb_presto_spark.queries.util import guard_rows, t
from prestodb_presto_spark.similarity.knn import cosine_sql, dot_sql, quantized_sql

# Quantize in DOUBLE explicitly: FLOAT*1000 in single precision rounds
# differently than double on ~1-in-1e5 components, which flips threshold
# membership at sf0.1 scale.  Both engines must promote identically.
QUANT_SQL = "[CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) for x in embedding]"


@query(
    "similarity_embedding_stats",
    oracle=f"""
    SELECT label,
           COUNT(*) AS n,
           CAST(SUM(list_dot_product(q::DOUBLE[], q::DOUBLE[])) AS BIGINT) AS sum_sqnorm,
           ROUND(AVG(sqrt(list_dot_product(q::DOUBLE[], q::DOUBLE[]))), 6) AS avg_norm
    FROM (SELECT label, {QUANT_SQL} q FROM embeddings) e
    GROUP BY label ORDER BY label
    """,
    tags=("similarity",),
)
def similarity_embedding_stats(spark, sf_dir):
    """Per-label norm statistics over quantized vectors (exact int math)."""
    emb = t(spark, sf_dir, "embeddings").select("label", F.expr(quantized_sql()).alias("q"))
    sqnorm = F.expr(dot_sql("q", "q"))
    return (
        emb.select("label", sqnorm.alias("sq"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.sum("sq").cast("bigint").alias("sum_sqnorm"),
            F.round(F.avg(F.sqrt(F.col("sq").cast("double"))), 6).alias("avg_norm"),
        )
        .orderBy("label")
    )


@query(
    "similarity_knn_top1",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, {QUANT_SQL} q FROM embeddings),
    n AS (SELECT vec_id, label, q,
                 list_dot_product(q::DOUBLE[], q::DOUBLE[]) AS nrm FROM e),
    queries AS (SELECT * FROM n WHERE vec_id < 20),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
             list_dot_product(q.q::DOUBLE[], c.q::DOUBLE[]) / sqrt(q.nrm) / sqrt(c.nrm) AS cos
      FROM queries q JOIN n c ON q.vec_id <> c.vec_id
    )
    SELECT query_id,
           max_by(neighbor_id, CAST(round(cos * 1e12) AS BIGINT) * 100000 - neighbor_id) AS neighbor_id,
           ROUND(MAX(cos), 6) AS cosine
    FROM scored GROUP BY query_id ORDER BY query_id
    """,
    tags=("similarity", "knn"),
)
def similarity_knn_top1(spark, sf_dir):
    """Brute-force cosine nearest neighbor (top-1) for 20 query vectors.

    The query set broadcasts; the corpus streams map-side — the plan that
    survives a 100 TB corpus.  Argmax tiebreak folds neighbor_id into the
    (quantized-cosine) ordering key so both engines agree exactly.
    """
    emb = t(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "label", f"{quantized_sql()} AS q"
    ).selectExpr("vec_id", "label", "q", f"cast({dot_sql('q', 'q')} as double) AS nrm")
    queries = emb.where("vec_id < 20").selectExpr(
        "vec_id AS query_id", "q AS qq", "nrm AS qn"
    )
    scored = emb.join(F.broadcast(queries), F.col("query_id") != F.col("vec_id")).selectExpr(
        "*",
        f"{cosine_sql('qq', 'q', 'qn', 'nrm')} AS cos",
    )
    # quantize cos to 1e-12 before the argmax key so the key fits a long;
    # both engines compute the identical double, so identical key.
    return (
        scored.groupBy("query_id")
        .agg(
            F.expr(
                "max_by(vec_id, cast(round(cos * 1e12) as bigint) * 100000 - vec_id)"
                " AS neighbor_id"
            ),
            F.expr("round(max(cos), 6) AS cosine"),
        )
        .orderBy("query_id")
    )


@query(
    "similarity_threshold_pairs",
    oracle=f"""
    WITH e AS (SELECT vec_id, {QUANT_SQL} q FROM embeddings),
    n AS (SELECT vec_id, q, list_dot_product(q::DOUBLE[], q::DOUBLE[]) AS nrm FROM e)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.q::DOUBLE[], b.q::DOUBLE[]) / sqrt(a.nrm) / sqrt(b.nrm), 6) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.q::DOUBLE[], b.q::DOUBLE[]) / sqrt(a.nrm) / sqrt(b.nrm) >= 0.4
    ORDER BY id_a, id_b
    """,
    tags=("similarity", "verifier-only"),
)
def similarity_threshold_pairs(spark, sf_dir):
    """All-pairs cosine ≥ 0.4 (self-join; the exact baseline the LSH
    variant is tested against in tests/test_similarity.py).

    VERIFIER-ONLY: O(n²) by construction — a hard row-count guard (50k
    vectors) refuses unbounded inputs; at scale use similarity_lsh_ann
    (bucketed candidates) or similarity_knn_top1 (broadcast query set)."""
    emb = guard_rows(
        t(spark, sf_dir, "embeddings"),
        50_000,
        "similarity_threshold_pairs",
        "Use similarity_lsh_ann / similarity_knn_top1 at scale.",
    ).select("vec_id", F.expr(quantized_sql()).alias("q"))
    emb = emb.withColumn("nrm", F.expr(dot_sql("q", "q")).cast("double"))
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("q").alias("q_a"), F.col("nrm").alias("n_a"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("q").alias("q_b"), F.col("nrm").alias("n_b"))
    cos = F.expr(cosine_sql("q_a", "q_b", "n_a", "n_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_raw", cos)
        .filter(F.col("cosine_raw") >= 0.4)
        .select("id_a", "id_b", F.round("cosine_raw", 6).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


@query(
    "similarity_lsh_ann",
    oracle="""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
               FROM embeddings),
         flat AS (SELECT vec_id, unnest(q) AS x,
                         generate_subscripts(q, 1) - 1 AS dim
                  FROM e),
         proj AS (SELECT vec_id, p,
                         SUM(x * (CAST(CAST(('0x' || substr(md5('planes-' || dim), p + 1, 1))
                                            AS UBIGINT) AS BIGINT) - 8)) AS s
                  FROM flat CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS p) ps
                  GROUP BY vec_id, p),
         buck AS (SELECT vec_id,
                         CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
                              AS BIGINT) AS bucket
                  FROM proj GROUP BY vec_id),
         capped AS (SELECT vec_id, bucket FROM buck
                    QUALIFY COUNT(*) OVER (PARTITION BY bucket) <= 200)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM capped a JOIN capped b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ORDER BY id_a, id_b
    """,
    tags=("similarity", "approximate"),
)
def similarity_lsh_ann(spark, sf_dir):
    """Approximate NN via random-hyperplane LSH (the 100 TB scale path).

    16 deterministic pseudo-random hyperplanes (md5-prefix-derived
    coefficients, the engine's cross-engine hash convention) → 16-bit
    bucket signature per vector → candidates share a non-hot bucket.
    The oracle re-derives the quantization, projections, buckets, the
    200-cap and the bucket-local pairs entirely in SQL — hash-exact (was
    rows-only while coefficients came from xxhash64, which DuckDB
    lacks).  Recall vs the exact pair set stays pytest-asserted
    (tests/test_similarity.py).
    """
    from prestodb_presto_spark.similarity.lsh import lsh_candidate_pairs

    emb = t(spark, sf_dir, "embeddings")
    return lsh_candidate_pairs(emb).orderBy("id_a", "id_b")


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
               FROM embeddings),
         flat AS (SELECT vec_id, unnest(q) AS x,
                         generate_subscripts(q, 1) - 1 AS dim
                  FROM e),
         proj AS (SELECT vec_id, p,
                         SUM(x * (CAST(CAST(('0x' || substr(md5('planes-' || (p // 32) || '-' || dim),
                                                    (p % 32) + 1, 1))
                                            AS UBIGINT) AS BIGINT) - 8)) AS s
                  FROM flat CROSS JOIN (SELECT unnest(generate_series(0, 79)) AS p) ps
                  GROUP BY vec_id, p),
         bands AS (SELECT vec_id, p // 10 AS band,
                          CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << (p % 10)) ELSE 0 END)
                               AS BIGINT) AS sig
                   FROM proj GROUP BY vec_id, p // 10),
         capped AS (SELECT vec_id, band, sig FROM bands
                    QUALIFY COUNT(*) OVER (PARTITION BY band, sig) <= 200),
         pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                   FROM capped a JOIN capped b
                     ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
         n AS (SELECT vec_id, q, list_dot_product(q::DOUBLE[], q::DOUBLE[]) AS nrm FROM e),
         scored AS (SELECT id_a, id_b,
                           list_dot_product(x.q::DOUBLE[], y.q::DOUBLE[])/sqrt(x.nrm)/sqrt(y.nrm) AS cos
                    FROM pairs p JOIN n x ON x.vec_id = p.id_a JOIN n y ON y.vec_id = p.id_b)
    SELECT id_b AS dup_id, MIN(id_a) AS kept_id,
           min_by(ROUND(cos, 6), id_a) AS cosine
    FROM scored WHERE cos >= 0.35
    GROUP BY id_b ORDER BY dup_id
    """,
    tags=("dedup", "similarity", "approximate"),
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-duplicate detection (the brief's 5th dedup
    method, next to exact / MinHash-LSH / SimHash / n-gram Jaccard).

    Banded hyperplane LSH (8 bands x 10 planes, OR-amplified like
    MinHash banding) proposes candidates; exact integer-quantized cosine
    verifies candidates only; a vector dedups against its smallest-id
    partner above the threshold.  The oracle re-derives bands, buckets,
    the hot-bucket cap, candidate pairs, cosine and the keep-rule in
    SQL, so the differential gate is hash-exact end-to-end.  Threshold
    0.35 fits the synthetic corpus (max pairwise cosine ~0.51 — real
    near-dup corpora would run 0.9+); recall properties are
    pytest-asserted against the exact all-pairs baseline.
    """
    from prestodb_presto_spark.similarity.lsh import embedding_near_dups

    emb = t(spark, sf_dir, "embeddings")
    return embedding_near_dups(emb, threshold=0.35)


_IVF_ORACLE = f"""
    WITH e AS (SELECT vec_id, {QUANT_SQL} q FROM embeddings),
         n AS (SELECT vec_id, q, list_dot_product(q::DOUBLE[], q::DOUBLE[]) AS nrm FROM e),
         cent AS (SELECT vec_id AS cid, q AS cq, nrm AS cn FROM n WHERE vec_id < 16),
         assign AS (
           SELECT n.vec_id,
                  max_by(cid, CAST(round(list_dot_product(n.q::DOUBLE[], cq::DOUBLE[])
                                         / sqrt(n.nrm) / sqrt(cn) * 1e12) AS BIGINT) * 100 - cid) AS cell
           FROM n CROSS JOIN cent GROUP BY n.vec_id),
         q20 AS (SELECT vec_id AS qid, q AS qq, nrm AS qn FROM n WHERE vec_id < 20),
         probes AS (
           SELECT qid, cid, qq, qn FROM (
             SELECT qid, cid, qq, qn,
                    row_number() OVER (
                      PARTITION BY qid
                      ORDER BY CAST(round(list_dot_product(qq::DOUBLE[], cq::DOUBLE[])
                                          / sqrt(qn) / sqrt(cn) * 1e12) AS BIGINT) * 100 - cid DESC
                    ) AS rk
             FROM q20 CROSS JOIN cent) r WHERE rk <= 4),
         cand AS (
           SELECT p.qid, p.qq, p.qn, a.vec_id, n.q, n.nrm
           FROM probes p JOIN assign a ON a.cell = p.cid AND a.vec_id <> p.qid
           JOIN n ON n.vec_id = a.vec_id),
         scored AS (SELECT qid, vec_id,
                           list_dot_product(qq::DOUBLE[], q::DOUBLE[]) / sqrt(qn) / sqrt(nrm) AS cos
                    FROM cand)
    SELECT qid AS query_id,
           max_by(vec_id, CAST(round(cos * 1e12) AS BIGINT) * 100000 - vec_id) AS neighbor_id,
           ROUND(MAX(cos), 6) AS cosine
    FROM scored GROUP BY qid ORDER BY query_id
    """


@query(
    "similarity_ivf_ann",
    oracle=_IVF_ORACLE,
    tags=("similarity", "approximate"),
)
def similarity_ivf_ann(spark, sf_dir):
    """IVF (inverted-file) ANN: coarse quantizer → inverted lists →
    n_probe-bounded search (similarity/ivf.py — the partitioned scale
    path beside the LSH one; reference has no ANN operator, SURVEY §6).

    16 deterministic centroids (first-K seeding), cosine cell
    assignment collapsing in the partial aggregate, 4-probe search
    touching ~1/4 of the corpus.  The oracle re-derives centroids,
    assignment, probes and the candidate argmax in SQL with the same
    quantized-BIGINT ordering keys, so the gate is hash-exact.  Recall
    vs exact brute-force top-1 is pytest-asserted.
    """
    from prestodb_presto_spark.similarity.ivf import ivf_search_top1

    emb = t(spark, sf_dir, "embeddings")
    return ivf_search_top1(emb, F.col("vec_id") < 20)


@query(
    "similarity_ivf_persisted",
    oracle=_IVF_ORACLE,
    tags=("similarity", "approximate", "pipeline"),
)
def similarity_ivf_persisted(spark, sf_dir):
    """The PRODUCTION shape of IVF ANN: the index (inverted lists
    bucketed by cell + the coarse quantizer) is materialized through
    the engine's own writer (similarity/ivf.write_ivf_index — the same
    index-once / search-every-batch pattern as
    dedup_incremental_persisted), and the query batch searches the
    STORED tables via ivf_search_top1_indexed.  Same oracle as
    similarity_ivf_ann, so the gate proves the persisted round-trip is
    lossless: write index -> fresh catalog read -> identical top-1 set.

    At 100 TB: the index write is one map + one n-row shuffle per
    corpus snapshot; each nightly query batch broadcasts its probe
    table against the pre-bucketed lists (bucket pruning per cell),
    never re-assigning the corpus.
    """
    from prestodb_presto_spark.similarity.ivf import (
        ivf_search_top1_indexed,
        write_ivf_index,
    )
    from prestodb_presto_spark.sources.io import drop_table

    emb = t(spark, sf_dir, "embeddings")
    tbl = "ivf_ann_index"
    drop_table(spark, tbl)
    drop_table(spark, f"{tbl}_centroids")
    write_ivf_index(emb, tbl)
    return ivf_search_top1_indexed(
        spark.table(tbl), spark.table(f"{tbl}_centroids"), F.col("vec_id") < 20
    )


@query(
    "dedup_components",
    oracle="""
    WITH RECURSIVE
         e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
               FROM embeddings),
         flat AS (SELECT vec_id, unnest(q) AS x,
                         generate_subscripts(q, 1) - 1 AS dim
                  FROM e),
         proj AS (SELECT vec_id, p,
                         SUM(x * (CAST(CAST(('0x' || substr(md5('planes-' || (p // 32) || '-' || dim),
                                                    (p % 32) + 1, 1))
                                            AS UBIGINT) AS BIGINT) - 8)) AS s
                  FROM flat CROSS JOIN (SELECT unnest(generate_series(0, 79)) AS p) ps
                  GROUP BY vec_id, p),
         bands AS (SELECT vec_id, p // 10 AS band,
                          CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << (p % 10)) ELSE 0 END)
                               AS BIGINT) AS sig
                   FROM proj GROUP BY vec_id, p // 10),
         capped AS (SELECT vec_id, band, sig FROM bands
                    QUALIFY COUNT(*) OVER (PARTITION BY band, sig) <= 200),
         pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                   FROM capped a JOIN capped b
                     ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
         n AS (SELECT vec_id, q, list_dot_product(q::DOUBLE[], q::DOUBLE[]) AS nrm FROM e),
         qual AS (SELECT id_a, id_b FROM pairs p
                  JOIN n x ON x.vec_id = p.id_a JOIN n y ON y.vec_id = p.id_b
                  WHERE list_dot_product(x.q::DOUBLE[], y.q::DOUBLE[])/sqrt(x.nrm)/sqrt(y.nrm) >= 0.35),
         sym AS (SELECT id_a AS u, id_b AS v FROM qual
                 UNION SELECT id_b, id_a FROM qual),
         reach(node, r) AS (
           SELECT u, u FROM sym
           UNION
           SELECT reach.node, s.v FROM reach JOIN sym s ON s.u = reach.r)
    SELECT node, MIN(r) AS component
    FROM reach GROUP BY node ORDER BY node
    """,
    tags=("dedup", "similarity", "iterative"),
)
def dedup_components(spark, sf_dir):
    """Transitive near-duplicate groups: banded-LSH cosine pairs as
    edges → connected components (operators/components.py, min-label
    propagation + pointer jumping).  The per-pair keep-rule of
    dedup_embedding_cosine under-merges chains (A~B, B~C but A!~C);
    components give the true group representative — what a 100 TB dedup
    pass actually keys its keep-one-per-group filter on.

    The oracle re-derives the same edge set in SQL and computes
    min-reachable-id per node with a recursive CTE — an exact
    differential check of an inherently iterative operator.
    """
    from prestodb_presto_spark.operators.components import connected_components
    from prestodb_presto_spark.similarity.lsh import banded_candidate_pairs

    emb = t(spark, sf_dir, "embeddings")
    pairs = banded_candidate_pairs(emb)
    vecs = emb.select(F.col("vec_id").alias("__id"), F.expr(quantized_sql()).alias("q"))
    vecs = vecs.withColumn("nrm", F.expr(dot_sql("q", "q")).cast("double"))
    xa = vecs.select(F.col("__id").alias("id_a"), F.col("q").alias("qa"), F.col("nrm").alias("na"))
    xb = vecs.select(F.col("__id").alias("id_b"), F.col("q").alias("qb"), F.col("nrm").alias("nb"))
    cos = F.expr(cosine_sql("qa", "qb", "na", "nb"))
    edges = (
        pairs.join(xa, "id_a").join(xb, "id_b")
        .filter(cos >= 0.35)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    return (
        connected_components(edges)
        .orderBy("node")
    )


_KMEANS_K = 8
_SEMDEDUP_TAU = 0.4


@query(
    "similarity_kmeans_semdedup",
    oracle=f"""
    WITH e AS (SELECT vec_id, {QUANT_SQL} q FROM embeddings),
    n AS (SELECT vec_id, q, list_dot_product(q::DOUBLE[], q::DOUBLE[]) AS nrm FROM e),
    c AS (SELECT vec_id AS cid, q AS cq, nrm AS cn FROM n WHERE vec_id < {_KMEANS_K}),
    asg AS (
      SELECT n.vec_id,
             max_by(c.cid,
                    CAST(round(list_dot_product(n.q::DOUBLE[], c.cq::DOUBLE[])
                               / sqrt(n.nrm) / sqrt(c.cn) * 1e12) AS BIGINT) * 100 - c.cid)
               AS cluster
      FROM n CROSS JOIN c GROUP BY n.vec_id),
    pairs AS (
      SELECT a.cluster, b.vec_id AS ib
      FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      JOIN n na ON na.vec_id = a.vec_id
      JOIN n nb ON nb.vec_id = b.vec_id
      WHERE list_dot_product(na.q::DOUBLE[], nb.q::DOUBLE[])
            / sqrt(na.nrm) / sqrt(nb.nrm) >= {_SEMDEDUP_TAU})
    SELECT m.cluster AS cluster_id, m.n AS n_members,
           COALESCE(p.np, 0) AS n_dup_pairs, COALESCE(p.nd, 0) AS n_dropped
    FROM (SELECT cluster, COUNT(*) AS n FROM asg GROUP BY cluster) m
    LEFT JOIN (SELECT cluster, COUNT(*) AS np, COUNT(DISTINCT ib) AS nd
               FROM pairs GROUP BY cluster) p ON m.cluster = p.cluster
    ORDER BY cluster_id
    """,
    tags=("similarity", "dedup", "pipeline"),
)
def similarity_kmeans_semdedup(spark, sf_dir):
    """SemDeDup-style semantic dedup: cluster the corpus around
    8 fixed seed centroids (deterministic: the lowest vec_ids)
    by max-cosine assignment, then mark near-duplicates ONLY within each
    cluster (cosine >= 0.4; higher id drops).  Output:
    per-cluster member / duplicate-pair / dropped counts.

    This is the published SemDeDup recipe (Abbas et al. 2023): k-means
    bounds the quadratic pair scan to within-cluster blocks, turning
    all-pairs O(n^2) into k * O((n/k)^2).

    Scale posture (100 TB): the centroid table is k rows — broadcast;
    assignment is a map-only pass (no shuffle of vectors); the pair
    phase shuffles once on cluster id and its cost is bounded by the
    largest cluster (at real scale k grows with the corpus to keep
    clusters ~fixed-size, and a hot-cluster cap like the LSH
    bucket_cap applies — here gate-scale inputs keep clusters small).
    Everything is JVM array expressions; no Python in the plan.
    """
    emb = t(spark, sf_dir, "embeddings").select("vec_id", F.expr(quantized_sql()).alias("q"))
    emb = emb.withColumn("nrm", F.expr(dot_sql("q", "q")).cast("double"))
    cents = emb.filter(F.col("vec_id") < _KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("cq"), F.col("nrm").alias("cn")
    )
    cos_c = F.expr(cosine_sql("q", "cq", "nrm", "cn"))
    key = F.round(cos_c * 1e12).cast("bigint") * 100 - F.col("cid")
    asg = (
        emb.crossJoin(F.broadcast(cents))
        .groupBy("vec_id")
        .agg(F.max_by("cid", key).alias("cluster"))
    )
    a = asg.select(F.col("cluster"), F.col("vec_id").alias("ia"))
    b = asg.select(F.col("cluster").alias("cluster_b"), F.col("vec_id").alias("ib"))
    na = emb.select(F.col("vec_id").alias("ia"), F.col("q").alias("qa"), F.col("nrm").alias("na"))
    nb = emb.select(F.col("vec_id").alias("ib"), F.col("q").alias("qb"), F.col("nrm").alias("nb"))
    cos_p = F.expr(cosine_sql("qa", "qb", "na", "nb"))
    pairs = (
        a.join(b, (F.col("cluster") == F.col("cluster_b")) & (F.col("ia") < F.col("ib")))
        .join(na, "ia")
        .join(nb, "ib")
        .filter(cos_p >= _SEMDEDUP_TAU)
        .select("cluster", "ib")
    )
    members = asg.groupBy("cluster").agg(F.count("*").alias("n_members"))
    dups = pairs.groupBy("cluster").agg(
        F.count("*").alias("np"), F.countDistinct("ib").alias("nd")
    )
    return (
        members.join(dups, "cluster", "left")
        .select(
            F.col("cluster").alias("cluster_id"),
            "n_members",
            F.coalesce("np", F.lit(0)).cast("bigint").alias("n_dup_pairs"),
            F.coalesce("nd", F.lit(0)).cast("bigint").alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


_OUTLIER_TOPK = 3


@query(
    "similarity_outlier_detect",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, {QUANT_SQL} q FROM embeddings),
    comp AS (
      SELECT e.vec_id, e.label, u.i, e.q[u.i] AS v
      FROM e, LATERAL (SELECT unnest(generate_series(1, len(e.q))) AS i) u),
    cent AS (
      SELECT label, i,
             CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
      FROM comp GROUP BY label, i),
    d AS (
      SELECT cp.vec_id, cp.label,
             SUM((cp.v - ct.c) * (cp.v - ct.c)) AS d2
      FROM comp cp JOIN cent ct ON cp.label = ct.label AND cp.i = ct.i
      GROUP BY cp.vec_id, cp.label),
    r AS (
      SELECT vec_id, label, d2,
             row_number() OVER (PARTITION BY label
                                ORDER BY d2 DESC, vec_id) AS rn
      FROM d)
    SELECT label, CAST(rn AS INT) AS rn, vec_id, CAST(d2 AS BIGINT) AS d2
    FROM r WHERE rn <= {_OUTLIER_TOPK}
    ORDER BY label, rn
    """,
    tags=("similarity", "pipeline"),
)
def similarity_outlier_detect(spark, sf_dir):
    """Embedding outlier detection: the top-3 (_OUTLIER_TOPK) vectors
    farthest from their label's centroid — the data-cleaning pass that
    surfaces mislabeled / corrupted embeddings before training.

    Exactness AND scale-safety (round-8 ADVICE fix): the statistic is
    the all-integer squared distance to the FLOORED integer centroid,
    d2 = Σ_i (v_i − floor(s_i/n))².  Unlike the n²-scaled exact-mean
    form Σ(v·n − s)² — which silently wraps int64 once a label holds
    ~3e5 rows — this is bounded by dims · (2·|v|max)² ≈ 64·4e8 ≈ 2.6e10
    at ANY corpus size.  floor(s/n) is computed through an exact double
    quotient (both operands < 2^53, IEEE-identical in Spark and
    DuckDB), so the value is hash-exact across engines; centering on
    the rounded rather than exact mean shifts each component by < 1
    quantization step — immaterial for outlier ranking and now a
    DEFINED, engine-stable statistic.

    Scale posture (100 TB): components explode to (label, i, v) rows —
    the centroid pass is ONE map-side-combined aggregation producing
    labels × dims rows (tiny — broadcast-joinable back onto the
    component stream), the distance pass is a per-vector aggregation
    (shuffles on vec_id, the same width as the input), and the top-k
    is a per-label WindowGroupLimit.  No all-pairs anything.
    """
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr(quantized_sql()).alias("q")
    )
    comp = emb.select("vec_id", "label", F.posexplode("q").alias("i", "v"))
    cent = comp.groupBy("label", "i").agg(
        F.floor(F.sum("v").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("c")
    )
    diff = F.col("v") - F.col("c")
    d = (
        comp.join(F.broadcast(cent), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(F.sum(diff * diff).alias("d2"))
    )
    w = Window.partitionBy("label").orderBy(F.desc("d2"), "vec_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _OUTLIER_TOPK)
        .select("label", F.col("rn").cast("int").alias("rn"), "vec_id", F.col("d2").cast("bigint").alias("d2"))
        .orderBy("label", "rn")
    )


_PQ_M = 8       # subspaces (64-dim vectors -> 8 x 8-dim subvectors)
_PQ_K = 16      # centroids per subspace (codes fit 4 bits)
_PQ_NQ = 5      # query vectors
_PQ_TOPK = 3


@query(
    "similarity_pq_adc",
    oracle=f"""
    WITH e AS (SELECT vec_id, {QUANT_SQL} q FROM embeddings),
    sub AS (
      SELECT vec_id, m.m, e.q[m.m * 8 + 1 : m.m * 8 + 8] AS sv
      FROM e, LATERAL (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS m) m),
    cent AS (
      SELECT vec_id AS cid, m, sv AS cv FROM sub WHERE vec_id < {_PQ_K}),
    codes AS (
      SELECT s.vec_id, s.m,
             min_by(c.cid,
                    (list_dot_product(s.sv::DOUBLE[], s.sv::DOUBLE[])
                     + list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[])
                     - 2 * list_dot_product(s.sv::DOUBLE[], c.cv::DOUBLE[]))
                    * 100 + c.cid) AS code
      FROM sub s JOIN cent c ON s.m = c.m
      GROUP BY s.vec_id, s.m),
    qd AS (
      SELECT s.vec_id AS query_id, s.m, c.cid,
             CAST(list_dot_product(s.sv::DOUBLE[], s.sv::DOUBLE[])
                  + list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[])
                  - 2 * list_dot_product(s.sv::DOUBLE[], c.cv::DOUBLE[]) AS BIGINT) AS d2
      FROM sub s JOIN cent c ON s.m = c.m
      WHERE s.vec_id < {_PQ_NQ}),
    adc AS (
      SELECT q.query_id, k.vec_id AS neighbor_id, SUM(q.d2) AS adc_d2
      FROM codes k JOIN qd q ON q.m = k.m AND q.cid = k.code
      WHERE k.vec_id <> q.query_id
      GROUP BY q.query_id, k.vec_id),
    r AS (
      SELECT query_id, neighbor_id, adc_d2,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_d2, neighbor_id) AS rn
      FROM adc)
    SELECT query_id, CAST(rn AS INT) AS rn, neighbor_id,
           CAST(adc_d2 AS BIGINT) AS adc_d2
    FROM r WHERE rn <= {_PQ_TOPK}
    ORDER BY query_id, rn
    """,
    tags=("similarity", "pipeline"),
)
def similarity_pq_adc(spark, sf_dir):
    """Product-quantization ANN with asymmetric-distance (ADC) scan —
    the vector-COMPRESSION path of the similarity family (brute force /
    LSH / IVF are the other three): every vector collapses to
    8 4-bit codes (nearest of 16 per-subspace centroids,
    deterministic seed centroids = the lowest vec_ids), and each query
    scans the corpus by summing 8 precomputed query-to-centroid
    distances instead of touching raw vectors (Jégou et al. 2011).

    Exactness: quantized integer components make every squared
    distance an exact integer (|v| ≤ ~5e3, 8-dim subvectors), so codes
    (argmin with a deterministic cid tie-break) and ADC sums are
    hash-exact across engines.

    Scale posture (100 TB): the codebook is 8x16 subvectors
    — broadcast; ENCODING is a map-only pass (each vector meets only
    the broadcast codebook) whose output is 8 bytes per vector —
    a 32x compression of the corpus that is what actually makes
    100 TB ANN tractable; the per-query distance TABLE is
    8x16 integers — broadcast; the ADC scan is a map-side
    lookup-and-sum over the codes (here expressed as a join on
    (m, code) for oracle parity) followed by one per-query top-k.
    """
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings").select("vec_id", F.expr(quantized_sql()).alias("q"))
    ms = F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("m")
    sub = emb.select("vec_id", "q", ms).withColumn(
        "sv", F.expr("slice(q, m * 8 + 1, 8)")
    ).drop("q")
    cent = sub.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("cid"), F.col("m").alias("cm"), F.col("sv").alias("cv")
    )
    d2 = F.expr(dot_sql("sv", "sv")) + F.expr(dot_sql("cv", "cv")) - 2 * F.expr(dot_sql("sv", "cv"))
    codes = (
        sub.join(F.broadcast(cent), F.col("m") == F.col("cm"))
        .groupBy("vec_id", "m")
        .agg(F.min_by("cid", d2 * 100 + F.col("cid")).alias("code"))
    )
    qd = (
        sub.filter(F.col("vec_id") < _PQ_NQ)
        .join(F.broadcast(cent), F.col("m") == F.col("cm"))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("m").alias("qm"),
            F.col("cid"),
            d2.cast("bigint").alias("d2"),
        )
    )
    adc = (
        codes.join(
            F.broadcast(qd),
            (F.col("qm") == F.col("m")) & (F.col("cid") == F.col("code")),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PQ_TOPK)
        .select(
            "query_id",
            F.col("rn").cast("int").alias("rn"),
            "neighbor_id",
            F.col("adc_d2").cast("bigint").alias("adc_d2"),
        )
        .orderBy("query_id", "rn")
    )


# --- MMR diversified retrieval -------------------------------------------

_MMR_NQ = 5     # query vectors
_MMR_POOL = 20  # relevance candidate pool per query
# greedy steps k = 3, lambda = 0.5 (score ∝ rel − max-sim-to-selected)


@query(
    "similarity_mmr_diversify",
    oracle=f"""
    WITH e AS (SELECT vec_id, {QUANT_SQL} q FROM embeddings),
    n AS (SELECT vec_id, q, list_dot_product(q::DOUBLE[], q::DOUBLE[]) AS nrm FROM e),
    qs AS (SELECT vec_id AS query_id, q AS qq, nrm AS qn FROM n WHERE vec_id < {_MMR_NQ}),
    rel AS (SELECT query_id, c.vec_id, c.q, c.nrm,
                   list_dot_product(qq::DOUBLE[], c.q::DOUBLE[]) / sqrt(qn) / sqrt(c.nrm) AS rel
            FROM qs JOIN n c ON c.vec_id >= {_MMR_NQ}),
    cand AS (SELECT * FROM (SELECT rel.*, row_number() OVER (
               PARTITION BY query_id
               ORDER BY CAST(round(rel * 1e12) AS BIGINT) DESC, vec_id) AS rk FROM rel)
             WHERE rk <= {_MMR_POOL}),
    s1 AS (SELECT query_id, vec_id AS s1_id, q AS s1_q, nrm AS s1_n,
                  CAST(round(rel * 1e12) AS BIGINT) AS k1 FROM cand WHERE rk = 1),
    st2 AS (SELECT c.query_id, c.vec_id, c.rel,
                   c.rel - (list_dot_product(c.q::DOUBLE[], s.s1_q::DOUBLE[])
                            / sqrt(c.nrm) / sqrt(s.s1_n)) AS sc
            FROM cand c JOIN s1 s ON c.query_id = s.query_id AND c.vec_id <> s.s1_id),
    s2 AS (SELECT query_id, vec_id AS s2_id, CAST(round(sc * 1e12) AS BIGINT) AS k2
           FROM (SELECT st2.*, row_number() OVER (PARTITION BY query_id
                   ORDER BY CAST(round(sc * 1e12) AS BIGINT) DESC, vec_id) AS rn
                 FROM st2)
           WHERE rn = 1),
    s2v AS (SELECT s2.query_id, s2.s2_id, n.q AS s2_q, n.nrm AS s2_n, s2.k2
            FROM s2 JOIN n ON n.vec_id = s2.s2_id),
    st3 AS (SELECT c.query_id, c.vec_id,
                   c.rel - greatest(
                     list_dot_product(c.q::DOUBLE[], s1.s1_q::DOUBLE[])
                       / sqrt(c.nrm) / sqrt(s1.s1_n),
                     list_dot_product(c.q::DOUBLE[], s2v.s2_q::DOUBLE[])
                       / sqrt(c.nrm) / sqrt(s2v.s2_n)) AS sc
            FROM cand c
            JOIN s1 ON c.query_id = s1.query_id
            JOIN s2v ON c.query_id = s2v.query_id
            WHERE c.vec_id <> s1.s1_id AND c.vec_id <> s2v.s2_id),
    s3 AS (SELECT query_id, vec_id AS s3_id, CAST(round(sc * 1e12) AS BIGINT) AS k3
           FROM (SELECT st3.*, row_number() OVER (PARTITION BY query_id
                   ORDER BY CAST(round(sc * 1e12) AS BIGINT) DESC, vec_id) AS rn
                 FROM st3)
           WHERE rn = 1)
    SELECT query_id, 1 AS step, s1_id AS vec_id, k1 AS score_key FROM s1
    UNION ALL SELECT query_id, 2, s2_id, k2 FROM s2v
    UNION ALL SELECT query_id, 3, s3_id, k3 FROM s3
    ORDER BY query_id, step
    """,
    tags=("similarity", "pipeline"),
)
def similarity_mmr_diversify(spark, sf_dir):
    """Maximal-marginal-relevance diversified top-k retrieval (Carbonell &
    Goldstein, SIGIR'98) — the RAG re-ranking step that stops the top-k
    from being k copies of the same passage: greedily pick the candidate
    maximizing lambda*rel − (1−lambda)*max-sim-to-already-selected
    (lambda = 0.5, so the argmax key is rel − max_sim), k = 3 steps over
    a 20-candidate relevance pool per query.

    Exactness: every greedy argmax orders on (round(score*1e12),
    −vec_id) — a STRUCT ordering key on the Spark side (the ivf.py
    _argmax_key pattern: exact for unbounded ids, no BIGINT-packing
    headroom bound) matched by an equivalent two-term window ordering
    in the oracle; the score arithmetic itself is the shared
    dot/sqrt/divide sequence both engines execute identically, so
    selections are hash-exact.  The winner's reported score_key is
    just max(round(score*1e12)) — lexicographic max of (key, −id) has
    the maximal key — so no unpacking arithmetic is needed.

    At 100 TB: the candidate pool is the part that touches the corpus —
    here a brute-force relevance scan cut to top-20 per query by
    WindowGroupLimit; at scale the pool comes from the bounded ANN paths
    (similarity_ivf_ann / similarity_pq_adc) instead.  The MMR re-rank
    itself only ever touches queries x 20 rows — each greedy step is one
    broadcast-joined max_by aggregation, no iteration over the corpus and
    no driver-side loop.
    """
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    n = emb.select("vec_id", F.expr(quantized_sql()).alias("q")).withColumn(
        "nrm", F.expr(dot_sql("q", "q"))
    )

    def key(sc):
        return F.round(sc * 1e12).cast("bigint")

    qs = n.filter(F.col("vec_id") < _MMR_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq"), F.col("nrm").alias("qn")
    )
    c = n.filter(F.col("vec_id") >= _MMR_NQ)
    rel = F.broadcast(qs).crossJoin(c).select(
        "query_id", "vec_id", "q", "nrm",
        F.expr(cosine_sql("qq", "q", "qn", "nrm")).alias("rel"),
    )
    w = Window.partitionBy("query_id").orderBy(key(F.col("rel")).desc(), F.col("vec_id"))
    # Materialize the pool (queries x 20 rows) so the three greedy steps
    # reuse it instead of re-deriving their shared lineage — without this
    # each step's branch re-scans the corpus for the relevance pass.
    from prestodb_presto_spark.operators.materialize import materialize

    cand = materialize(
        rel.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= _MMR_POOL),
        eager=False,
    )
    s1 = cand.filter("rk = 1").select(
        "query_id", F.col("vec_id").alias("s1_id"), F.col("q").alias("s1_q"),
        F.col("nrm").alias("s1_n"), key(F.col("rel")).alias("k1"),
    )
    # struct ordering key (ivf.py _argmax_key pattern): lexicographic
    # (score key, -id) — exact for unbounded ids, unlike BIGINT packing
    kk = F.struct(
        key(F.col("sc")).alias("k"), (-F.col("vec_id")).cast("bigint").alias("t")
    )
    st2 = (
        cand.join(F.broadcast(s1), "query_id")
        .filter("vec_id <> s1_id")
        .withColumn("sc", F.col("rel") - F.expr(cosine_sql("q", "s1_q", "nrm", "s1_n")))
    )
    s2 = st2.groupBy("query_id").agg(
        F.max_by("vec_id", kk).alias("s2_id"),
        # the winner maximizes (key, -id), so its key IS max(key)
        F.max(key(F.col("sc"))).alias("k2"),
    )
    s2v = s2.join(
        n.select(F.col("vec_id").alias("s2_id"), F.col("q").alias("s2_q"), F.col("nrm").alias("s2_n")),
        "s2_id",
    )
    st3 = (
        cand.join(F.broadcast(s1), "query_id")
        .join(F.broadcast(s2v.select("query_id", "s2_id", "s2_q", "s2_n")), "query_id")
        .filter("vec_id <> s1_id AND vec_id <> s2_id")
        .withColumn(
            "sc",
            F.col("rel")
            - F.greatest(
                F.expr(cosine_sql("q", "s1_q", "nrm", "s1_n")),
                F.expr(cosine_sql("q", "s2_q", "nrm", "s2_n")),
            ),
        )
    )
    s3 = st3.groupBy("query_id").agg(
        F.max_by("vec_id", kk).alias("s3_id"), F.max(key(F.col("sc"))).alias("k3")
    )
    return (
        s1.select(
            "query_id", F.lit(1).alias("step"),
            F.col("s1_id").alias("vec_id"), F.col("k1").alias("score_key"),
        )
        .unionAll(s2v.select("query_id", F.lit(2), "s2_id", "k2"))
        .unionAll(s3.select("query_id", F.lit(3), "s3_id", "k3"))
        .orderBy("query_id", "step")
    )


# --- margin-based bitext mining (mutual nearest neighbors) ----------------

_BITEXT_MARGIN = 20_000_000_000  # 0.02 in round(cos*1e12) key units


@query(
    "similarity_bitext_mine",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, {QUANT_SQL} q FROM embeddings),
    flat AS (SELECT vec_id, unnest(q) AS x,
                    generate_subscripts(q, 1) - 1 AS dim
             FROM e),
    proj AS (SELECT vec_id, p,
                    SUM(x * (CAST(CAST(('0x' || substr(md5('planes-' || (p // 32) || '-' || dim),
                                               (p % 32) + 1, 1))
                                       AS UBIGINT) AS BIGINT) - 8)) AS s
             FROM flat CROSS JOIN (SELECT unnest(generate_series(0, 79)) AS p) ps
             GROUP BY vec_id, p),
    bands AS (SELECT vec_id, p // 10 AS band,
                     CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << (p % 10)) ELSE 0 END)
                          AS BIGINT) AS sig
              FROM proj GROUP BY vec_id, p // 10),
    capped AS (SELECT vec_id, band, sig FROM bands
               QUALIFY COUNT(*) OVER (PARTITION BY band, sig) <= 200),
    rawp AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM capped a JOIN capped b
               ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
    par AS (SELECT vec_id, label % 2 AS par FROM e),
    orient AS (SELECT CASE WHEN pa.par = 0 THEN r.id_a ELSE r.id_b END AS a_id,
                      CASE WHEN pa.par = 0 THEN r.id_b ELSE r.id_a END AS b_id
               FROM rawp r JOIN par pa ON pa.vec_id = r.id_a
                           JOIN par pb ON pb.vec_id = r.id_b
               WHERE pa.par <> pb.par),
    n AS (SELECT vec_id, q, list_dot_product(q::DOUBLE[], q::DOUBLE[]) AS nrm FROM e),
    scored AS (SELECT o.a_id, o.b_id,
                      CAST(round(list_dot_product(x.q::DOUBLE[], y.q::DOUBLE[])
                                 / sqrt(x.nrm) / sqrt(y.nrm) * 1e12) AS BIGINT) AS k
               FROM orient o JOIN n x ON x.vec_id = o.a_id
                             JOIN n y ON y.vec_id = o.b_id),
    fr AS (SELECT a_id, b_id, k,
                  row_number() OVER (PARTITION BY a_id ORDER BY k DESC, b_id) AS rn
           FROM scored),
    fwd AS (SELECT a_id,
                   MAX(CASE WHEN rn = 1 THEN b_id END) AS b1,
                   MAX(CASE WHEN rn = 1 THEN k END) AS k1,
                   MAX(CASE WHEN rn = 2 THEN k END) AS k2
            FROM fr WHERE rn <= 2 GROUP BY a_id),
    br AS (SELECT a_id, b_id, k,
                  row_number() OVER (PARTITION BY b_id ORDER BY k DESC, a_id) AS rn
           FROM scored),
    bwd AS (SELECT b_id, MAX(CASE WHEN rn = 1 THEN a_id END) AS a1
            FROM br WHERE rn = 1 GROUP BY b_id)
    SELECT f.a_id, f.b1 AS b_id,
           ROUND(f.k1 / 1e12, 6) AS cosine
    FROM fwd f JOIN bwd b ON f.b1 = b.b_id AND b.a1 = f.a_id
    WHERE f.k2 IS NULL OR f.k1 - f.k2 >= {_BITEXT_MARGIN}
    ORDER BY f.a_id
    """,
    tags=("similarity", "pipeline"),
)
def similarity_bitext_mine(spark, sf_dir):
    """Parallel-pair mining by MUTUAL nearest neighbors with a margin
    filter (the WikiMatrix/CCMatrix recipe, Artetxe & Schwenk): split
    the embedding corpus into two 'language' sides (label parity), find
    each side-A vector's best side-B neighbor among banded-LSH
    candidates, keep a pair only when (a) the choice is mutual — A's
    best B also picks A back — and (b) A's best beats its runner-up by a
    cosine margin >= 0.02 (singleton candidates pass), so ambiguous
    hubs are dropped.  This is the alignment step that builds bitext /
    image-caption / duplicate-entity training pairs from two embedded
    corpora.

    Exactness: all comparisons run on the BIGINT key round(cos*1e12)
    with deterministic id tie-breaks, so both engines pick identical
    mutual pairs; the banding, hot-bucket cap and margin rule are
    re-derived verbatim in the oracle.

    At 100 TB: candidate generation is the SAME banded hyperplane LSH
    as the ANN family (shuffle = 80 longs/vector, per-bucket capped
    join); forward/backward argmax are rank<=2 windows over the
    candidate stream (WindowGroupLimit, per-vector groups); the mutual
    join runs over one row per vector.  Nothing all-pairs.
    """
    from pyspark.sql import Window

    from prestodb_presto_spark.similarity.lsh import banded_candidate_pairs

    emb = t(spark, sf_dir, "embeddings")
    par = emb.select("vec_id", (F.col("label") % 2).alias("par"))
    rawp = banded_candidate_pairs(emb)
    pa = par.select(F.col("vec_id").alias("id_a"), F.col("par").alias("pa"))
    pb = par.select(F.col("vec_id").alias("id_b"), F.col("par").alias("pb"))
    orient = (
        rawp.join(pa, "id_a")
        .join(pb, "id_b")
        .filter("pa <> pb")
        .select(
            F.when(F.col("pa") == 0, F.col("id_a")).otherwise(F.col("id_b")).alias("a_id"),
            F.when(F.col("pa") == 0, F.col("id_b")).otherwise(F.col("id_a")).alias("b_id"),
        )
    )
    n = emb.select("vec_id", F.expr(quantized_sql()).alias("q")).withColumn(
        "nrm", F.expr(dot_sql("q", "q"))
    )
    nx = n.select(F.col("vec_id").alias("a_id"), F.col("q").alias("qx"), F.col("nrm").alias("nx"))
    ny = n.select(F.col("vec_id").alias("b_id"), F.col("q").alias("qy"), F.col("nrm").alias("ny"))
    cos = F.expr(cosine_sql("qx", "qy", "nx", "ny"))
    # Materialize the candidate-sized scored stream: the forward and
    # backward argmax windows would otherwise each re-derive the entire
    # LSH candidate pipeline (signatures, banding, capped join).
    from prestodb_presto_spark.operators.materialize import materialize

    scored = materialize(
        orient.join(nx, "a_id")
        .join(ny, "b_id")
        .select("a_id", "b_id", F.round(cos * 1e12).cast("bigint").alias("k")),
        eager=False,
    )
    fw = Window.partitionBy("a_id").orderBy(F.desc("k"), "b_id")
    fwd = (
        scored.withColumn("rn", F.row_number().over(fw))
        .filter("rn <= 2")
        .groupBy("a_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("b_id"))).alias("b1"),
            F.max(F.when(F.col("rn") == 1, F.col("k"))).alias("k1"),
            F.max(F.when(F.col("rn") == 2, F.col("k"))).alias("k2"),
        )
    )
    bw = Window.partitionBy("b_id").orderBy(F.desc("k"), "a_id")
    bwd = (
        scored.withColumn("rn", F.row_number().over(bw))
        .filter("rn = 1")
        .groupBy("b_id")
        .agg(F.max("a_id").alias("a1"))
    )
    return (
        fwd.join(bwd, (F.col("b1") == F.col("b_id")) & (F.col("a1") == F.col("a_id")))
        .filter(F.col("k2").isNull() | (F.col("k1") - F.col("k2") >= _BITEXT_MARGIN))
        .select(
            "a_id",
            "b_id",
            F.round(F.col("k1") / 1e12, 6).alias("cosine"),
        )
        .orderBy("a_id")
    )


_NEG_K = 3        # negatives per anchor
_NEG_BUCKETS = 16  # negative-pool shards
_NEG_NA = 50       # anchors


@query(
    "sample_negative_pairs",
    oracle=f"""
    WITH anchors AS (SELECT vec_id AS a_id, label AS a_label FROM embeddings
                     WHERE vec_id < {_NEG_NA}),
    pool AS (SELECT vec_id AS n_id, label AS n_label,
                    CAST(('0x' || substr(md5('shard' || CAST(vec_id AS VARCHAR)), 1, 13))
                         AS BIGINT) % {_NEG_BUCKETS} AS shard
             FROM embeddings WHERE vec_id >= {_NEG_NA}),
    asg AS (SELECT a_id, a_label,
                   CAST(('0x' || substr(md5('anchor' || CAST(a_id AS VARCHAR)), 1, 13))
                        AS BIGINT) % {_NEG_BUCKETS} AS shard
            FROM anchors),
    cand AS (SELECT a.a_id, p.n_id,
                    CAST(('0x' || substr(md5(CAST(a.a_id AS VARCHAR) || ':' ||
                                             CAST(p.n_id AS VARCHAR)), 1, 13))
                         AS BIGINT) AS rk_key
             FROM asg a JOIN pool p ON a.shard = p.shard
             WHERE p.n_label <> a.a_label),
    r AS (SELECT a_id, n_id,
                 row_number() OVER (PARTITION BY a_id ORDER BY rk_key, n_id) AS rk
          FROM cand)
    SELECT a_id, CAST(rk AS INT) AS rk, n_id
    FROM r WHERE rk <= {_NEG_K} ORDER BY a_id, rk
    """,
    tags=("similarity", "sampling", "pipeline"),
)
def sample_negative_pairs(spark, sf_dir):
    """Negative sampling for contrastive training: 3 label-mismatched
    negatives per anchor, chosen deterministically (md5 of the pair) so
    reruns build the identical training set — the data-prep step behind
    contrastive embedding / reranker training.

    The scale move is SHARDING: the negative pool hashes into 16 shards
    and each anchor samples only from its assigned shard — the
    anchor x corpus cross join (quadratic, dead at 100 TB) becomes an
    equi-join on the shard key whose output is corpus/16 rows per
    anchor, and per-anchor rank<=k plans as WindowGroupLimit.  Both
    shard assignments and the per-pair rank key are pure md5 functions
    of the ids (no rand()), so both engines draw identical samples.
    """
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")

    def h(prefix, col):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(prefix), col.cast("string"))), 1, 13),
                16,
                10,
            ).cast("bigint")
        )

    anchors = emb.filter(F.col("vec_id") < _NEG_NA).select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
    )
    asg = anchors.withColumn("shard", h("anchor", F.col("a_id")) % _NEG_BUCKETS)
    pool = emb.filter(F.col("vec_id") >= _NEG_NA).select(
        F.col("vec_id").alias("n_id"),
        F.col("label").alias("n_label"),
        (h("shard", F.col("vec_id")) % _NEG_BUCKETS).alias("shard"),
    )
    rk_key = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("a_id").cast("string"), F.lit(":"), F.col("n_id").cast("string")
                )
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("bigint")
    cand = (
        asg.join(pool, "shard")
        .filter(F.col("n_label") != F.col("a_label"))
        .select("a_id", "n_id", rk_key.alias("rk_key"))
    )
    w = Window.partitionBy("a_id").orderBy("rk_key", "n_id")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _NEG_K)
        .select("a_id", F.col("rk").cast("int").alias("rk"), "n_id")
        .orderBy("a_id", "rk")
    )


@query(
    "decontaminate_embedding",
    oracle=f"""
    WITH e AS (SELECT vec_id, {QUANT_SQL} q FROM embeddings),
    n AS (SELECT vec_id, q,
                 list_dot_product(q::DOUBLE[], q::DOUBLE[]) AS nrm FROM e),
    ev AS (SELECT * FROM n WHERE vec_id % 37 = 0),
    corpus AS (SELECT * FROM n WHERE vec_id % 37 <> 0),
    scored AS (
      SELECT c.vec_id,
             ev.vec_id AS eval_id,
             list_dot_product(c.q::DOUBLE[], ev.q::DOUBLE[])
               / sqrt(c.nrm) / sqrt(ev.nrm) AS cos
      FROM corpus c JOIN ev ON TRUE),
    agg AS (
      SELECT vec_id,
             max_by(eval_id, CAST(round(cos * 1e12) AS BIGINT) * 100000 - eval_id)
               AS nearest_eval_id,
             MAX(cos) AS max_cos
      FROM scored GROUP BY vec_id)
    SELECT vec_id, nearest_eval_id,
           ROUND(max_cos, 6) AS max_cosine,
           (max_cos >= 0.93) AS contaminated
    FROM agg ORDER BY vec_id
    """,
    tags=("similarity", "pipeline", "decontamination"),
)
def decontaminate_embedding(spark, sf_dir):
    """SEMANTIC decontamination — the third member of the family
    (decontaminate_ngram catches shared 5-grams, decontaminate_exact_
    passage catches verbatim substrings; this catches PARAPHRASES the
    lexical checks miss): every corpus vector scores its max cosine
    against the held-out eval set (vec_id % 37 — the same eval-slice
    convention as the lexical gates) and is flagged contaminated at
    cosine >= 0.93.  Integer-quantized components and the engine's
    standard BIGINT argmax key make both engines bit-agree on the
    nearest eval item and the flag.

    At 100 TB: eval/benchmark sets are tiny next to the corpus, so the
    eval side BROADCASTS (same posture as the lexical decontaminators —
    and the same guarded degrade applies via decontaminate_join's
    pattern if an eval set ever outgrows the broadcast budget); the
    corpus streams map-side through one BroadcastNestedLoopJoin and
    collapses immediately to a per-vector max — one map-side-combined
    aggregation, zero corpus shuffles before it.
    """
    emb = t(spark, sf_dir, "embeddings").select("vec_id", F.expr(quantized_sql()).alias("q"))
    emb = emb.withColumn("nrm", F.expr(dot_sql("q", "q")).cast("double"))
    ev = emb.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("eval_id"), F.col("q").alias("eq"), F.col("nrm").alias("en")
    )
    corpus = emb.filter(F.col("vec_id") % 37 != 0)
    scored = corpus.crossJoin(F.broadcast(ev)).withColumn(
        "cos",
        F.expr(cosine_sql("q", "eq", "nrm", "en")),
    )
    ordkey = F.round(F.col("cos") * 1e12).cast("bigint") * 100000 - F.col("eval_id")
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max_by("eval_id", ordkey).alias("nearest_eval_id"),
            F.round(F.max("cos"), 6).alias("max_cosine"),
            (F.max("cos") >= 0.93).alias("contaminated"),
        )
        .orderBy("vec_id")
    )

#!/usr/bin/env python3
"""Skew smoke (round-5 verdict item 7) — deliberately skewed data,
measuring the scale-path variants against their naive forms:

  1. stratified sampling: one source holds 90% of rows.  The exact
     row_number() form serializes that source's window partition; the
     md5-threshold form (sample_stratified_threshold) is a pure filter.
  2. salted join: one key holds 90% of the big side.  salted_join
     spreads the hot key across SALT_N shuffle partitions.
  3. MinHash-LSH hot-bucket cap: a boilerplate shingle shared by most
     docs creates a quadratic candidate bucket; the cap bounds it.

Usage: SPARK_GRAFT_CPUS=32 python tools/skew_smoke.py [n_docs]
Prints one JSON line with per-variant wall seconds; the scale-path
variant should win (or at minimum not lose) on every pair.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def timed(fn) -> tuple[float, int]:
    t0 = time.time()
    n = fn()
    return round(time.time() - t0, 3), n


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000

    from prestodb_presto_spark.session import get_spark

    spark = get_spark("skew-smoke")
    out: dict[str, float] = {}

    # --- 1. stratified sample on 90/10 source skew ----------------------
    docs = spark.range(n_docs).selectExpr(
        "CAST(id AS STRING) AS doc_id",
        "CASE WHEN id % 10 < 9 THEN 'giant' ELSE concat('s', id % 97) END AS source",
    ).cache()
    docs.count()

    def exact_sample():
        from pyspark.sql import Window

        w = Window.partitionBy("source")
        w_rank = w.orderBy(F.md5(F.col("doc_id")), "doc_id")
        return (
            docs.withColumn("__n", F.count("*").over(w))
            .withColumn("__rn", F.row_number().over(w_rank))
            .filter(F.col("__rn") <= F.ceil(F.col("__n") * F.lit(0.1)))
            .count()
        )

    def threshold_sample():
        from prestodb_presto_spark.queries.textops import _STRAT_RATE_HEX

        return docs.filter(
            F.substring(F.md5(F.col("doc_id")), 1, 15) < F.lit(_STRAT_RATE_HEX)
        ).count()

    out["sample_window_exact_s"], n1 = timed(exact_sample)
    out["sample_md5_threshold_s"], n2 = timed(threshold_sample)
    print(f"# sample: window {out['sample_window_exact_s']}s ({n1}) vs "
          f"threshold {out['sample_md5_threshold_s']}s ({n2})", flush=True)

    # --- 2. salted join on a 90%-hot key --------------------------------
    big = spark.range(n_docs).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 0 ELSE id % 1000 END AS k", "id AS payload"
    ).cache()
    small = spark.range(1000).selectExpr("id AS k", "id * 2 AS dim").cache()
    big.count(), small.count()
    # force the shuffle path: disable broadcast + AQE skew handling so the
    # naive form exhibits the single-hot-partition behavior AQE would mask
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        from prestodb_presto_spark.operators.skew import salted_join

        out["join_naive_s"], j1 = timed(
            lambda: big.join(small, "k", "inner").count()
        )
        out["join_salted_s"], j2 = timed(
            lambda: salted_join(big, small, "k", salt=16).count()
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert j1 == j2, (j1, j2)
    print(f"# join: naive {out['join_naive_s']}s vs salted "
          f"{out['join_salted_s']}s ({j1} rows)", flush=True)

    # --- 3. LSH hot bucket: a 5%-of-corpus identical-boilerplate cluster.
    # Those docs share all 32 band buckets; uncapped, the self-join
    # produces O(cluster^2) candidate pairs (~12.5M at 100k docs) — the
    # quadratic blow-up the cap exists to bound.
    corpus = spark.range(min(n_docs, 100_000)).selectExpr(
        "CAST(id AS STRING) AS doc_id",
        "CASE WHEN id % 20 = 0 THEN 'terms of service apply to this"
        " account and all contents herein without exception'"
        " ELSE concat('document body ', CAST(id AS STRING), ' text ',"
        " CAST(id * 7 % 1000 AS STRING), ' tail ', CAST(id * 13 % 977 AS"
        " STRING)) END AS text",
    ).cache()
    corpus.count()
    from prestodb_presto_spark.text.minhash import lsh_candidate_pairs

    out["lsh_capped_s"], c1 = timed(
        lambda: lsh_candidate_pairs(corpus, bucket_cap=200).count()
    )
    out["lsh_uncapped_s"], c2 = timed(
        lambda: lsh_candidate_pairs(corpus, bucket_cap=None).count()
    )
    print(f"# lsh: capped {out['lsh_capped_s']}s ({c1} pairs) vs uncapped "
          f"{out['lsh_uncapped_s']}s ({c2} pairs)", flush=True)

    # --- 4. sequence packing under doc-length skew: one source's docs
    # are 10x longer.  The two-phase md5-bucket prefix sum spreads rows
    # uniformly regardless of length (the bucket key is md5(doc_id), not
    # the length); the naive global window is ONE task for everything.
    packdocs = spark.range(min(n_docs, 1_000_000)).selectExpr(
        "CAST(id AS STRING) AS doc_id",
        "repeat('w ', CAST(CASE WHEN id % 10 = 0 THEN 300 ELSE 30 END AS INT))"
        " AS text",
    ).cache()
    packdocs.count()
    from prestodb_presto_spark.queries.packing import SEQ_BUDGET, packed_assignments

    def pack_naive():
        from pyspark.sql import Window

        w = Window.orderBy(F.md5("doc_id"), "doc_id").rowsBetween(
            Window.unboundedPreceding, -1
        )
        return (
            packdocs.select("doc_id", F.size(F.split("text", " ")).alias("n"))
            .withColumn("start", F.coalesce(F.sum("n").over(w), F.lit(0)))
            .selectExpr(f"CAST(start / {SEQ_BUDGET} AS BIGINT) AS seq_id")
            .agg(F.max("seq_id"))
            .collect()[0][0]
        )

    def pack_two_phase():
        return (
            packed_assignments(packdocs)
            .agg(F.max("seq_id"))
            .collect()[0][0]
        )

    out["pack_global_window_s"], p1 = timed(pack_naive)
    out["pack_two_phase_s"], p2 = timed(pack_two_phase)
    assert p1 == p2, (p1, p2)
    spark.catalog.clearCache()
    # local-mode caveat: all 32 "executors" share one memory bus, so the
    # global window's single sort task runs at the same aggregate
    # bandwidth as 32 parallel tasks — wall times here are near parity
    # and the receipt is the STRUCTURAL one: the naive form's sort stage
    # is ONE task holding the whole corpus (impossible at 100 TB); the
    # two-phase form's widest stage is numPartitions tasks
    print(f"# pack: global-window {out['pack_global_window_s']}s"
          f" (sort stage = 1 task) vs two-phase"
          f" {out['pack_two_phase_s']}s (32 parallel tasks;"
          f" max seq_id {p1}, results equal)", flush=True)

    # --- 5. decontamination with a BIG eval set (~1M distinct grams):
    # the broadcast fast path vs the over-cap shuffle fallback the guard
    # degrades to — both must agree, and the fallback must stay in the
    # same wall-clock class (no cliff), proving the guard is safe to trip.
    from prestodb_presto_spark.queries import textops

    corpus_g = spark.range(min(n_docs, 2_000_000)).selectExpr(
        "CAST(id % 200000 AS STRING) AS doc_id",
        "concat('g', CAST(id % 1500000 AS STRING)) AS g",
    ).cache()
    eval_g = spark.range(1_000_000).selectExpr(
        "concat('g', CAST(id AS STRING)) AS g"
    ).cache()
    corpus_g.count(), eval_g.count()

    def decon(cap):
        saved = textops.MAX_BROADCAST_EVAL_GRAMS
        textops.MAX_BROADCAST_EVAL_GRAMS = cap
        try:
            return textops.decontaminate_join(corpus_g, eval_g).count()
        finally:
            textops.MAX_BROADCAST_EVAL_GRAMS = saved

    out["decon_broadcast_s"], d1 = timed(lambda: decon(2_000_000))
    out["decon_shuffle_fallback_s"], d2 = timed(lambda: decon(10_000))
    assert d1 == d2, (d1, d2)
    spark.catalog.clearCache()
    print(f"# decon: broadcast {out['decon_broadcast_s']}s vs shuffle "
          f"fallback {out['decon_shuffle_fallback_s']}s ({d1} docs)", flush=True)

    # --- 6. SimHash pair search hot bucket: a 5% identical-boilerplate
    # cluster shares ALL 4 bit-bands (identical fingerprints) — uncapped,
    # that one bucket is O(cluster^2) candidate pairs; the cap bounds it.
    from prestodb_presto_spark.text.simhash import simhash_near_pairs

    sh_corpus = spark.range(min(n_docs, 200_000)).selectExpr(
        "CAST(id AS STRING) AS doc_id",
        "CASE WHEN id % 20 = 0 THEN 'terms of service apply to this"
        " account and all contents herein without exception'"
        " ELSE concat('document body ', CAST(id AS STRING), ' text ',"
        " CAST(id * 7 % 1000 AS STRING), ' tail ', CAST(id * 13 % 977 AS"
        " STRING)) END AS text",
    ).cache()
    sh_corpus.count()
    out["simhash_capped_s"], s1 = timed(
        lambda: simhash_near_pairs(sh_corpus, bucket_cap=200).count()
    )
    out["simhash_uncapped_s"], s2 = timed(
        lambda: simhash_near_pairs(sh_corpus, bucket_cap=None).count()
    )
    print(f"# simhash: capped {out['simhash_capped_s']}s ({s1} pairs) vs "
          f"uncapped {out['simhash_uncapped_s']}s ({s2} pairs)", flush=True)

    # --- 7. airlift-parity approx_distinct on a low-group-count table:
    # the native plan Engine.sql lowers it to shuffles only (group,
    # prefix26) plus the distinct packed (bucket, rho) registers per
    # group — no Python worker holds a group's values.  The estimates are the
    # ones the removed GROUPED_AGG UDAF gave on this table.
    from prestodb_presto_spark.engine import Engine

    ad = spark.range(min(n_docs, 2_000_000)).selectExpr(
        "CAST(id % 4 AS STRING) AS g", "id % 700000 AS v"
    ).cache()
    ad.count()
    ad.createOrReplaceTempView("__ad_smoke")
    engine = Engine(spark)
    t0 = time.time()
    got = sorted(
        (r.g, r.n)
        for r in engine.sql(
            "SELECT g, approx_distinct(v) AS n FROM __ad_smoke GROUP BY g",
            dialect="presto",
        ).collect()
    )
    out["approx_distinct_native_s"] = round(time.time() - t0, 3)
    if n_docs >= 2_000_000:
        want = [("0", 178939), ("1", 170928), ("2", 170233), ("3", 170803)]
        assert got == want, (got, want)
    print(f"# approx_distinct: native plan {out['approx_distinct_native_s']}s"
          f" ({got})", flush=True)

    # --- 8. cross-doc line dedup, boilerplate line in 50% of docs -------
    # the naive keep-first form is row_number() OVER (PARTITION BY line):
    # the boilerplate line's partition holds half of every line row in
    # the corpus — ONE task sorts it.  dedup_lines' winner aggregation is
    # algebraic min(struct(doc_id, pos)): map-side combine collapses the
    # hot line to one row per input partition before the exchange.
    from prestodb_presto_spark.queries.textops import dedup_lines

    n_lines = min(n_docs, 2_000_000)
    lines = spark.range(n_lines).selectExpr(
        "CAST(CAST(id / 4 AS BIGINT) AS STRING) AS doc_id",
        "CAST(id % 4 + 1 AS INT) AS pos",
        # pos 1 of every even doc = the same boilerplate line (~12.5% of
        # rows x4 lines/doc => the hot line appears in 50% of docs)
        "CASE WHEN id % 8 = 0 THEN 'subscribe to our newsletter now'"
        " ELSE concat('line ', id) END AS line",
    ).cache()
    lines.count()

    def lines_naive():
        from pyspark.sql import Window

        w = Window.partitionBy("line").orderBy("doc_id", "pos")
        kept = (
            lines.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
        )
        return kept.groupBy("doc_id").count().count()

    def lines_scale():
        return dedup_lines(lines).count()

    (out["dedup_lines_window_s"], k1) = timed(lines_naive)
    (out["dedup_lines_agg_s"], k2) = timed(lines_scale)
    assert k1 == k2, (k1, k2)
    print(
        f"# dedup_lines: window keep-first {out['dedup_lines_window_s']}s"
        f" vs algebraic min-winner {out['dedup_lines_agg_s']}s"
        f" ({k1} docs kept, identical)",
        flush=True,
    )

    # --- 9. SemDeDup: cluster-bounded pair scan vs all-pairs -------------
    # 32 near-orthogonal cluster centers (one-hot ints + small noise):
    # every cosine>=0.8 pair is within-cluster by construction, so the
    # k-means-bounded scan must find EXACTLY the all-pairs result while
    # doing k*(n/k)^2 dot products instead of n^2.
    n_vec = max(4_000, min(n_docs // 100, 20_000))
    vecs = spark.range(n_vec).selectExpr(
        "id AS vec_id",
        "CAST(id % 32 AS INT) AS c",
        "transform(sequence(0, 31), j -> CAST(CASE WHEN j = CAST(id % 32 AS INT)"
        " THEN 1000 + id % 7 ELSE id % 3 END AS BIGINT)) AS q",
    ).cache()
    vecs.count()

    from prestodb_presto_spark.similarity.knn import cosine_sql, dot_sql

    nrm = F.expr(f"cast({dot_sql('q', 'q')} as double)")
    nv = vecs.withColumn("nrm", nrm)

    def semdedup_naive():
        a = nv.select(F.col("vec_id").alias("ia"), F.col("q").alias("qa"), F.col("nrm").alias("na"))
        b = nv.select(F.col("vec_id").alias("ib"), F.col("q").alias("qb"), F.col("nrm").alias("nb"))
        cos = F.expr(cosine_sql("qa", "qb", "na", "nb"))
        return a.join(b, F.col("ia") < F.col("ib")).filter(cos >= 0.8).count()

    def semdedup_clustered():
        cents = nv.filter(F.col("vec_id") < 32).select(
            F.col("vec_id").alias("cid"), F.col("q").alias("cq"), F.col("nrm").alias("cn")
        )
        cosc = F.expr(cosine_sql("q", "cq", "nrm", "cn"))
        key = F.round(cosc * 1e12).cast("bigint") * 100 - F.col("cid")
        asg = (
            nv.crossJoin(F.broadcast(cents))
            .groupBy("vec_id")
            .agg(F.max_by("cid", key).alias("cluster"))
        )
        a = asg.join(nv, "vec_id").select(
            "cluster", F.col("vec_id").alias("ia"), F.col("q").alias("qa"), F.col("nrm").alias("na")
        )
        b = asg.join(nv, "vec_id").select(
            F.col("cluster").alias("cluster_b"), F.col("vec_id").alias("ib"),
            F.col("q").alias("qb"), F.col("nrm").alias("nb"),
        )
        cos = F.expr(cosine_sql("qa", "qb", "na", "nb"))
        return (
            a.join(b, (F.col("cluster") == F.col("cluster_b")) & (F.col("ia") < F.col("ib")))
            .filter(cos >= 0.8)
            .count()
        )

    (out["semdedup_allpairs_s"], p1) = timed(semdedup_naive)
    (out["semdedup_clustered_s"], p2) = timed(semdedup_clustered)
    assert p1 == p2, (p1, p2)
    print(
        f"# semdedup: all-pairs {out['semdedup_allpairs_s']}s"
        f" vs k-means-bounded {out['semdedup_clustered_s']}s"
        f" ({p1} pairs, identical — separated centers make the bound exact)",
        flush=True,
    )

    # --- 10. winnowed span strip: two-phase vs all-gram single phase ----
    # 10% of docs carry one of 40 boilerplate 12-token runs; fillers are
    # unique.  Phase A (winnow fingerprints) must cut the gram explode to
    # the ~10% flagged slice; the single-phase form explodes stride-1
    # gram hashes for EVERY doc.  Both pick winners with the algebraic
    # min(struct) and must report identical per-doc removal counts.
    import tempfile

    from prestodb_presto_spark.queries.textops import (
        _WIN_K,
        _winnow_parts,
        dedup_spans_strip,
    )

    n_span_docs = min(n_docs, 100_000)
    span_docs = spark.range(n_span_docs).selectExpr(
        "CAST(id AS INT) AS doc_id",
        "CASE WHEN id % 10 = 0 THEN concat("
        "  concat_ws(' ', transform(sequence(1, 6), j -> concat('u', id, 'x', j))), ' ',"
        "  concat_ws(' ', transform(sequence(1, 12), j -> concat('boiler', CAST(id / 10 AS BIGINT) % 40, '_', j))), ' ',"
        "  concat_ws(' ', transform(sequence(7, 12), j -> concat('u', id, 'x', j))))"
        " ELSE concat_ws(' ', transform(sequence(1, 24), j -> concat('u', id, 'x', j)))"
        " END AS text",
        "'en' AS lang", "'s' AS source", "0 AS n_chars",
    )
    with tempfile.TemporaryDirectory() as tmp:
        span_docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")

        def strip_two_phase():
            return sorted(
                (r.doc_id, r.n_removed)
                for r in dedup_spans_strip(spark, tmp)
                .select("doc_id", "n_removed")
                .collect()
            )

        def strip_all_grams():
            base, _fp, _sh = _winnow_parts(spark, tmp)
            grams = (
                base.select("doc_id", F.posexplode("h").alias("p0", "gh"))
                .select("doc_id", (F.col("p0") + 1).alias("pos"), "gh")
            )
            winner = grams.groupBy("gh").agg(
                F.min(F.struct("doc_id", "pos")).alias("w")
            )
            losing = (
                grams.join(winner, "gh")
                .filter(
                    (F.col("doc_id") != F.col("w.doc_id"))
                    | (F.col("pos") != F.col("w.pos"))
                )
                .groupBy("doc_id")
                .agg(F.sort_array(F.collect_list("pos")).alias("lpos"))
            )
            rm = F.expr(
                f"size(filter(sequence(1, size(tk)),"
                f" p -> exists(lpos, i -> i <= p AND p <= i + {_WIN_K} - 1)))"
            )
            return sorted(
                (r.doc_id, r.n_removed)
                for r in base.join(losing, "doc_id")
                .select("doc_id", rm.cast("bigint").alias("n_removed"))
                .collect()
            )

        t0 = time.time()
        w2 = strip_two_phase()
        out["span_strip_two_phase_s"] = round(time.time() - t0, 3)
        t0 = time.time()
        w1 = strip_all_grams()
        out["span_strip_all_grams_s"] = round(time.time() - t0, 3)
    assert w1 == w2, (len(w1), len(w2))
    # local-mode caveat (same as the pack receipt): wall times here are
    # md5-CPU-bound and the two-phase form hashes the corpus twice, so
    # single-phase can win locally.  The structural receipt is the
    # SHUFFLE: single-phase shuffles every doc's stride-1 gram hashes
    # (corpus-sized exchange + corpus-sized winner aggregation state);
    # two-phase shuffles winnowed fingerprints (~40% of token count) and
    # then full grams for the FLAGGED slice only (here 10% of docs) —
    # at 100 TB the exchange, not the map CPU, is the bill.
    out["span_strip_flagged_frac"] = round(len(w2) / n_span_docs, 4)
    print(
        f"# span_strip: all-grams {out['span_strip_all_grams_s']}s"
        f" (gram shuffle = 100% of docs) vs two-phase"
        f" {out['span_strip_two_phase_s']}s (gram shuffle ="
        f" {out['span_strip_flagged_frac']:.0%} flagged slice;"
        f" {len(w2)} docs stripped, identical)",
        flush=True,
    )

    # --- (l) round 10: hot-bucket cap guard, window vs algebraic -------
    # one boilerplate bucket holds 90% of the (bucket, id) index rows —
    # the exact stream the LSH guards see at 100 TB.  The window form
    # buffers that bucket in ONE task; drop_hot_buckets collapses it to
    # one row per input partition (map-side combine) + broadcast anti.
    from pyspark.sql import Window

    from prestodb_presto_spark.operators.skew import drop_hot_buckets

    bands = spark.range(n_docs).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 10 < 9 THEN 0 ELSE CAST(hash(id) % 5000 AS BIGINT) END AS bh",
    ).cache()
    bands.count()

    def guard_window():
        return (
            bands.withColumn("__bsz", F.count("*").over(Window.partitionBy("bh")))
            .filter(F.col("__bsz") <= 200)
            .drop("__bsz")
            .count()
        )

    def guard_algebraic():
        return drop_hot_buckets(bands, "bh", 200).count()

    for fn in (guard_algebraic, guard_window):
        fn()  # warm
    tw, nw = timed(guard_window)
    ta, na = timed(guard_algebraic)
    assert na == nw, (na, nw)
    out["bucket_guard_window_s"] = tw
    out["bucket_guard_algebraic_s"] = ta
    plan = drop_hot_buckets(bands, "bh", 200)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    bands.unpersist()
    print(
        f"# bucket_guard (90% hot bucket, {n_docs} index rows): window"
        f" {tw}s (single-task buffer of the hot bucket) vs algebraic"
        f" {ta}s ({nw} rows survive, identical; no Window in plan)",
        flush=True,
    )

    print(json.dumps({"n_docs": n_docs, **out}))


if __name__ == "__main__":
    main()

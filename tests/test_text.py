"""Text-pipeline library tests: LSH recall vs exact Jaccard, SimHash sanity."""

from __future__ import annotations

from pyspark.sql import functions as F

from prestodb_presto_spark.text import (
    lsh_candidate_pairs,
    minhash_signatures,
    shingles3,
    token_array,
    verified_near_dup_pairs,
    with_simhash64,
)
from tests.conftest import SF_TINY


def _docs(spark):
    return spark.read.parquet(f"{SF_TINY}/documents.parquet")


def _exact_pairs(spark, threshold):
    sh = _docs(spark).select("doc_id", shingles3().alias("s"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("s_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b"))
    jac = inter * 1.0 / (F.size("s_a") + F.size("s_b") - inter)
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("j", jac)
        .filter(F.col("j") >= threshold)
        .select("id_a", "id_b")
    )


def test_minhash_signature_shape(spark):
    sig = minhash_signatures(_docs(spark))
    row = sig.first()
    assert len(row["sig"]) == 64
    assert all(isinstance(v, int) for v in row["sig"])


def test_lsh_recall_of_high_jaccard_pairs(spark):
    """Every exact J>=0.8 pair must appear among LSH candidates (the
    banding math makes a miss ~1e-13; a failure means a real bug)."""
    exact = {(r.id_a, r.id_b) for r in _exact_pairs(spark, 0.8).collect()}
    cands = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(_docs(spark)).collect()}
    assert exact, "fixture should contain planted near-dup pairs"
    assert exact <= cands


def test_verified_pairs_equal_exact(spark):
    exact = {(r.id_a, r.id_b) for r in _exact_pairs(spark, 0.8).collect()}
    verified = {(r.id_a, r.id_b) for r in verified_near_dup_pairs(_docs(spark), 0.8).collect()}
    assert verified == exact


def test_simhash_near_dups_have_small_hamming(spark):
    """Planted near-dup pairs must agree on most SimHash bits."""
    fp = with_simhash64(_docs(spark), F.array_distinct(token_array())).select("doc_id", "simhash")
    pairs = _exact_pairs(spark, 0.9)
    a = fp.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("h_a"))
    b = fp.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("h_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b").select(
        F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("ham")
    )
    rows = joined.collect()
    assert rows, "fixture should contain planted J>=0.9 pairs"
    assert all(r.ham <= 16 for r in rows), [r.ham for r in rows]


def test_shingles_short_docs(spark):
    """Docs with <3 tokens yield an empty shingle set, not an error."""
    df = spark.createDataFrame([(1, "one two"), (2, "a b c d")], "doc_id int, text string")
    rows = {r.doc_id: r.s for r in df.select("doc_id", shingles3().alias("s")).collect()}
    assert rows[1] == []
    assert rows[2] == ["a b c", "b c d"]


def test_lsh_hot_bucket_cap_bounds_candidates(spark):
    """An adversarial all-identical corpus puts every doc in the same 32
    band buckets; the cap must drop those buckets instead of producing
    the O(n^2) candidate set."""
    n = 300
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated across every document here").alias("text"),
    )
    cap = 50
    capped = lsh_candidate_pairs(docs, bucket_cap=cap).count()
    assert capped <= cap * n  # O(cap*n) bound; here every bucket is hot -> 0
    assert capped == 0
    uncapped = lsh_candidate_pairs(docs, bucket_cap=None).count()
    assert uncapped == n * (n - 1) // 2


def test_lsh_cap_keeps_normal_pairs(spark):
    """Pairs living in small buckets survive the cap."""
    docs = _docs(spark).limit(60)
    with_cap = {tuple(r) for r in lsh_candidate_pairs(docs, bucket_cap=200).collect()}
    without = {tuple(r) for r in lsh_candidate_pairs(docs, bucket_cap=None).collect()}
    assert with_cap == without


def test_verifier_only_guard_refuses_large_input(spark):
    """guard_rows must refuse unbounded inputs to quadratic exact ops,
    with a bounded probe (limit(cap+1)), not a full count."""
    import pytest

    from prestodb_presto_spark.queries.util import guard_rows

    big = spark.range(1000).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="verifier-only"):
        guard_rows(big, 100, "op_under_test", "use the LSH path")
    assert guard_rows(big, 1000, "op_under_test", "").count() == 1000


def test_stratified_sample_deterministic_and_proportional(spark):
    """sample_stratified is a pure function of the data: two runs pick
    identical rows, and every source contributes ceil(0.1 * n) rows."""
    from prestodb_presto_spark.queries.textops import sample_stratified
    import math

    sf = "/root/testdata/sf0.001"
    a = [tuple(r) for r in sample_stratified(spark, sf).collect()]
    b = [tuple(r) for r in sample_stratified(spark, sf).collect()]
    assert a == b and a
    from prestodb_presto_spark.queries.util import t as load

    totals = {
        r.source: r.n
        for r in load(spark, sf, "documents").groupBy("source").count()
        .withColumnRenamed("count", "n").collect()
    }
    from collections import Counter

    picked = Counter(src for _id, src in a)
    assert picked == {s: math.ceil(0.1 * n) for s, n in totals.items()}


def test_topk_ngrams_shape(spark):
    """Top-5 bigrams per language: <=5 rows per lang, counts descending
    with the lexicographic tie-break."""
    from prestodb_presto_spark.queries.textops import text_topk_ngrams

    rows = text_topk_ngrams(spark, "/root/testdata/sf0.001").collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append((r.cnt, r.ngram))
    for lang, pairs in by_lang.items():
        assert len(pairs) <= 5
        assert pairs == sorted(pairs, key=lambda p: (-p[0], p[1]))


def test_stratified_threshold_proportional_on_skew(spark):
    """sample_stratified_threshold: the windowless md5-prefix filter stays
    proportional per source on deliberately skewed data (one source = 90%
    of rows), is deterministic, and never shuffles before the filter."""
    from prestodb_presto_spark.queries.textops import (
        _STRAT_RATE_HEX,
        sample_stratified_threshold,
    )

    # skewed synthetic corpus: 'giant' has 9000 rows, 'small' has 1000
    docs = spark.range(10_000).selectExpr(
        "CAST(id AS STRING) AS doc_id",
        "CASE WHEN id % 10 < 9 THEN 'giant' ELSE 'small' END AS source",
    )
    picked = (
        docs.filter(
            F.substring(F.md5(F.col("doc_id")), 1, 15) < F.lit(_STRAT_RATE_HEX)
        )
        .groupBy("source")
        .count()
        .collect()
    )
    rates = {r.source: r["count"] for r in picked}
    # binomial(9000, 0.1) -> mean 900, sd ~28.5; 5 sd tolerance.
    assert abs(rates.get("giant", 0) - 900) < 150, rates
    assert abs(rates.get("small", 0) - 100) < 50, rates

    # the catalog entry runs, is deterministic, and picks ~10% overall
    sf = "/root/testdata/sf0.001"
    a = [tuple(r) for r in sample_stratified_threshold(spark, sf).collect()]
    b = [tuple(r) for r in sample_stratified_threshold(spark, sf).collect()]
    assert a == b and a

    # plan hygiene: no Exchange before the Filter (the sample is a pure
    # per-row predicate; the only allowed shuffle is the final ORDER BY)
    plan = sample_stratified_threshold(spark, sf)._jdf.queryExecution().executedPlan().toString()
    filter_at = plan.find("Filter")
    exchange_at = plan.find("Exchange")
    assert filter_at != -1
    # executed-plan string is top-down: the sort exchange appears ABOVE
    # (before) the filter; nothing below the filter shuffles
    assert exchange_at == -1 or exchange_at < filter_at, plan


def test_pack_sequences_two_phase_equals_global_window(spark):
    """packed_assignments' distributed two-phase prefix sum must equal
    the naive single-partition global-window form exactly, and respect
    the budget invariants."""
    from pyspark.sql import Window
    from prestodb_presto_spark.queries.packing import SEQ_BUDGET, packed_assignments

    docs = spark.range(3_000).selectExpr(
        "CAST(id AS STRING) AS doc_id",
        "repeat('w ', CAST(id % 97 + 1 AS INT)) AS text",
    )
    got = {
        r.doc_id: (r.seq_id, r.seq_offset)
        for r in packed_assignments(docs, partitions=7).collect()
    }
    w = Window.orderBy(F.md5("doc_id"), "doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    naive = (
        docs.select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .withColumn("start", F.coalesce(F.sum("n").over(w), F.lit(0)))
        .selectExpr(
            "doc_id",
            f"CAST(start / {SEQ_BUDGET} AS BIGINT) AS seq_id",
            f"CAST(start % {SEQ_BUDGET} AS BIGINT) AS seq_offset",
        )
    )
    want = {r.doc_id: (r.seq_id, r.seq_offset) for r in naive.collect()}
    assert got == want
    assert all(0 <= off < SEQ_BUDGET for _sid, off in got.values())


def test_pipeline_keep_plan_shape(spark):
    """pipeline_keep's physical plan: the token projection is computed
    ONCE (a single split() in the whole plan — every rule flag derives
    from the shared toks column), the dedup winner aggregation has a
    map-side partial_min, the firsts side joins by broadcast, and no
    Python evaluation or cartesian product appears anywhere."""
    from prestodb_presto_spark.queries.textops import pipeline_keep

    df = pipeline_keep(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert plan.count("split(") == 1, plan
    assert "partial_min" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    for bad in ("ArrowEvalPython", "BatchEvalPython", "CartesianProduct",
                "FlatMapGroupsInPandas", "AggregateInPandas"):
        assert bad not in plan, plan


def test_pack_sequences_cache_hygiene(spark):
    """Repeated packed_assignments calls must not accumulate cached
    phase-1 projections: each call unpersists the previous one (at most
    ONE lingers, for its own phase 2), and release_packing_cache()
    drops the last — zero cached RDDs afterwards (ADVICE round 7:
    repeated packings leaked cache; clearCache() was too blunt)."""
    from prestodb_presto_spark.queries.packing import (
        packed_assignments,
        release_packing_cache,
    )

    release_packing_cache()
    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    docs = spark.range(500).selectExpr(
        "CAST(id AS STRING) AS doc_id",
        "repeat('w ', CAST(id % 31 + 1 AS INT)) AS text",
    )
    for _ in range(3):
        packed_assignments(docs, partitions=4).count()
        # after each full materialization at most the CURRENT call's
        # projection is cached — prior ones were unpersisted
        assert jsc.getPersistentRDDs().size() - base <= 1
    release_packing_cache()
    assert jsc.getPersistentRDDs().size() == base


def test_doc_chunking_covers_all_tokens(spark):
    """Every token index is covered by at least one chunk and chunk
    heads line up with the stride."""
    from prestodb_presto_spark.queries.packing import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        doc_chunking,
    )

    rows = doc_chunking(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc, chunks in list(by_doc.items())[:50]:
        chunks.sort(key=lambda r: r.chunk_idx)
        # contiguous indices from 0; all-but-last chunk is full-size
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        for c in chunks[:-1]:
            assert c.n_chunk_tokens == CHUNK_SIZE
        # coverage: last chunk reaches the end of the token array
        last = chunks[-1]
        total = last.chunk_idx * CHUNK_STRIDE + last.n_chunk_tokens
        first = chunks[0]
        assert first.chunk_idx == 0
        assert total >= last.chunk_idx * CHUNK_STRIDE  # sanity


def test_decontaminate_broadcast_guard(spark, monkeypatch):
    """decontaminate_join: an eval-gram set above the broadcast cap must
    degrade to a shuffle join (no broadcast hint in the plan); a small
    set keeps the broadcast fast path.  Results are identical."""
    from prestodb_presto_spark.queries import textops

    corpus = spark.range(200).selectExpr(
        "CAST(id % 20 AS STRING) AS doc_id",
        "concat('g', CAST(id % 50 AS STRING)) AS g",
    )
    eval_grams = spark.range(30).selectExpr(
        "concat('g', CAST(id AS STRING)) AS g"
    )

    fast = textops.decontaminate_join(corpus, eval_grams)
    fast_plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in fast_plan, fast_plan
    fast_rows = {(r.doc_id, r.n_hits) for r in fast.collect()}

    # force the fallback: cap below the eval-gram count
    monkeypatch.setattr(textops, "MAX_BROADCAST_EVAL_GRAMS", 10)
    slow = textops.decontaminate_join(corpus, eval_grams)
    slow_plan = slow._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in slow_plan, slow_plan
    assert {(r.doc_id, r.n_hits) for r in slow.collect()} == fast_rows


def test_simhash_near_pairs_exact_vs_bruteforce(spark):
    """Pigeonhole exactness: banded retrieval finds EXACTLY the pairs a
    brute-force Hamming scan finds (no recall loss, no extras), and the
    hot-bucket cap drops pairs confined to over-cap buckets."""
    from prestodb_presto_spark.text.analysis import token_array, with_simhash64
    from prestodb_presto_spark.text.simhash import simhash_near_pairs

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(120)
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_pairs(docs, bucket_cap=None).collect()
    }
    fp = with_simhash64(docs, F.array_distinct(token_array("text"))).select(
        "doc_id", "simhash"
    )
    a, b = fp.alias("a"), fp.alias("b")
    brute = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert got == brute and got, (len(got), len(brute))

    # a tiny cap can only REMOVE pairs, never add or change one
    capped = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_pairs(docs, bucket_cap=3).collect()
    }
    assert capped <= got


def test_winnow_planted_run_detected_and_stripped(spark, tmp_path):
    """Winnowing guarantee + keep-first strip, on a planted duplicate:
    an 11-token run (= K+W-1) shared by two docs must flag BOTH docs
    (dedup_spans_winnowed) and be stripped from exactly the later one
    (dedup_spans_strip), verified against an independent Python
    recompute of the cleaned text."""
    from prestodb_presto_spark.queries.textops import (
        _WIN_K,
        _WIN_W,
        dedup_spans_strip,
        dedup_spans_winnowed,
    )

    run = " ".join(f"dup{i}" for i in range(_WIN_K + _WIN_W - 1))
    docs = [
        (1, f"alpha beta gamma {run} delta epsilon zeta eta theta", "en", "a", 0),
        (2, f"one two three four five six {run} seven eight nine ten", "en", "b", 0),
        (3, "totally unrelated words that never repeat anywhere at all "
            "just filler content of reasonable length here", "en", "c", 0),
    ]
    df = spark.createDataFrame(
        docs, "doc_id int, text string, lang string, source string, n_chars int"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    sf = str(tmp_path)

    det = {r.doc_id: r.dup_flag for r in dedup_spans_winnowed(spark, sf).collect()}
    assert det[1] and det[2] and not det[3]

    got = {r.doc_id: r for r in dedup_spans_strip(spark, sf).collect()}
    assert set(got) == {2}  # doc 1 is the keep-first winner, untouched

    # independent recompute: in doc 2, strip every token covered by a
    # K-gram whose (doc_id, pos)-first occurrence is elsewhere
    toks = {d[0]: d[1].lower().strip().split(" ") for d in docs}
    first = {}
    for did in sorted(toks):
        tk = toks[did]
        for i in range(len(tk) - _WIN_K + 1):
            first.setdefault(tuple(tk[i : i + _WIN_K]), (did, i))
    tk2 = toks[2]
    losing = [
        i
        for i in range(len(tk2) - _WIN_K + 1)
        if first[tuple(tk2[i : i + _WIN_K])] != (2, i)
    ]
    removed = {
        p for i in losing for p in range(i, i + _WIN_K)
    }
    kept = [w for p, w in enumerate(tk2) if p not in removed]
    import hashlib

    assert got[2].n_removed == len(removed)
    assert got[2].cleaned_md5 == hashlib.md5(" ".join(kept).encode()).hexdigest()


def test_winnow_fingerprint_density(spark):
    """Winnowing selects ~2/(W+1) of gram positions (SIGMOD'03 density
    bound) — the receipt that the corpus-wide shuffle carries a
    CONSTANT-FACTOR fraction of token count, not all grams."""
    from prestodb_presto_spark.queries.textops import _WIN_W, _winnow_parts

    base, fp, _ = _winnow_parts(spark, "/root/testdata/sf0.001")
    n_grams = base.selectExpr("sum(size(h)) v").collect()[0].v
    n_sel = fp.count()
    density = n_sel / n_grams
    # distinct-per-doc dedup pulls density below the 2/(w+1) expectation;
    # it must stay well under 1/2 and above the 1/w floor
    assert 1.0 / (2 * _WIN_W) <= density <= 2.5 / (_WIN_W + 1)


def test_spans_strip_hot_gram_skew(spark, tmp_path):
    """Skew receipt: a boilerplate 11-token run planted in 30% of a
    synthetic corpus must (a) still strip correctly (all but the
    doc_id-first copy lose it), (b) plan the winner pick as a hash
    AGGREGATE on the gram hash, not a window sort — no Window operator
    may appear between the gram explode and the winner join."""
    from prestodb_presto_spark.queries.textops import dedup_spans_strip

    boiler = " ".join(f"boiler{i}" for i in range(11))
    rows = []
    for d in range(200):
        uniq = " ".join(f"w{d}x{i}" for i in range(12))
        text = f"{boiler} {uniq}" if d % 3 == 0 else uniq
        rows.append((d, text, "en", "s", 0))
    spark.createDataFrame(
        rows, "doc_id int, text string, lang string, source string, n_chars int"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    df = dedup_spans_strip(spark, str(tmp_path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "winner pick regressed to a window sort"

    got = {r.doc_id: r.n_removed for r in df.collect()}
    hot = [d for d in range(200) if d % 3 == 0]
    # winner (doc 0) keeps the run; every other hot doc loses exactly it
    assert 0 not in got
    assert all(got[d] == 11 for d in hot[1:])


def test_vocab_roundtrip_decode_inverts_encode(spark):
    """decode(encode(x)) == x wherever all tokens are in-vocabulary, and
    '<unk>' appears exactly at encode's id-0 positions."""
    import hashlib

    from prestodb_presto_spark.queries.textops import (
        text_vocab_decode,
        text_vocab_encode,
    )
    from prestodb_presto_spark.queries.util import t as load

    sf = "/root/testdata/sf0.001"
    enc = {r.doc_id: r for r in text_vocab_encode(spark, sf).collect()}
    dec = {r.doc_id: r for r in text_vocab_decode(spark, sf).collect()}
    docs = {r.doc_id: r.text for r in load(spark, sf, "documents").collect()}
    assert set(enc) == set(dec)
    checked_exact = 0
    for did, e in enc.items():
        d = dec[did]
        assert (d.n_tokens, d.n_oov) == (e.n_tokens, e.n_oov)
        toks = docs[did].lower().split(" ")
        ids = [int(x) for x in e.ids.split("|")]
        expect = " ".join(
            "<unk>" if i == 0 else w for w, i in zip(toks, ids)
        )
        assert d.decoded_md5 == hashlib.md5(expect.encode()).hexdigest()
        if e.n_oov == 0:
            assert expect == " ".join(toks)
            checked_exact += 1
    assert checked_exact > 0  # some docs are fully in-vocabulary


def test_incremental_dedup_planted_pairs(spark, tmp_path):
    """Cross-corpus incremental check on planted data: a new doc that is
    an old doc plus one appended token MUST be caught (J ~ 0.93); a new
    doc with the old doc's tokens reversed MUST NOT (3-shingles are
    order-sensitive); a brand-new doc matches nothing."""
    from prestodb_presto_spark.text.minhash import incremental_near_dup_pairs

    base = " ".join(f"tok{i}" for i in range(40))
    old = spark.createDataFrame(
        [(1, base), (2, " ".join(f"other{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (101, base + " appendix"),
            (102, " ".join(reversed(base.split()))),
            (103, " ".join(f"fresh{i}" for i in range(40))),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.new_id, r.old_id): r.jaccard
        for r in incremental_near_dup_pairs(new, old, threshold=0.8).collect()
    }
    assert set(got) == {(101, 1)}
    assert got[(101, 1)] >= 0.9


def test_persisted_dedup_index_roundtrip_and_corpus_isolation(spark):
    """The persisted-index flow (write_dedup_index → spark.table →
    check_batch) must (a) reproduce the in-query incremental result
    exactly, (b) derive candidates from the STORED index — asserted by
    scanning the index table in the plan AND by corrupting the text of
    every non-candidate corpus doc (text is read only for the candidate
    slice, so the output cannot change)."""
    from prestodb_presto_spark.text.minhash import (
        _band_buckets,
        check_batch,
        incremental_near_dup_pairs,
        write_dedup_index,
    )

    docs = _docs(spark)
    old = docs.filter(F.col("doc_id") % 7 != 0).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    from prestodb_presto_spark.sources.io import drop_table

    drop_table(spark, "t_dedup_idx")
    write_dedup_index(old, "t_dedup_idx")
    index = spark.table("t_dedup_idx")

    out = check_batch(new, index, old, threshold=0.8, bucket_cap=None)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "t_dedup_idx" in plan, "candidates must scan the stored index table"

    expect = {tuple(r) for r in incremental_near_dup_pairs(new, old, bucket_cap=None).collect()}
    got = {tuple(r) for r in out.collect()}
    assert got == expect and len(got) > 0

    # corrupt every corpus doc that is NOT a candidate: output unchanged
    nb = _band_buckets(new, "doc_id", "text").withColumnRenamed("doc_id", "new_id")
    cand_old = {
        r.old_id for r in nb.join(index, "bh").select("old_id").distinct().collect()
    }
    corrupted = old.withColumn(
        "text",
        F.when(F.col("doc_id").isin(list(cand_old)), F.col("text")).otherwise(
            F.lit("CORRUPTED")
        ),
    )
    got2 = {
        tuple(r)
        for r in check_batch(new, index, corrupted, threshold=0.8, bucket_cap=None).collect()
    }
    assert got2 == expect
    drop_table(spark, "t_dedup_idx")


def test_grouped_pair_expand_equals_self_join(spark):
    """operators/pairs.grouped_pair_expand must produce EXACTLY the
    self-equi-join's pair set (with and without payload) on a randomized
    multi-bucket fixture including singleton, duplicate-membership, and
    shared-bucket cases; bucket_pairs's capped and uncapped branches
    must return the same rows."""
    import random

    from pyspark.sql import functions as F

    from prestodb_presto_spark.operators.pairs import grouped_pair_expand

    rng = random.Random(7)
    rows = []
    for doc in range(40):
        for b in rng.sample(range(12), rng.randint(1, 4)):
            rows.append((doc, b, doc * 1000 + 7))
    df = spark.createDataFrame(rows, "id long, bucket int, payload long").distinct()

    a, b = df.alias("a"), df.alias("b")
    want = {
        (r.id_a, r.id_b)
        for r in a.join(
            b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id"))
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
        .collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in grouped_pair_expand(df, "bucket", "id").collect()
    }
    assert got == want and len(got) > 50

    withp = grouped_pair_expand(df, "bucket", "id", payload=["payload"]).collect()
    assert {(r.id_a, r.id_b) for r in withp} == want
    for r in withp:
        assert r.payload_a == r.id_a * 1000 + 7 and r.payload_b == r.id_b * 1000 + 7

    # operators/pairs.bucket_pairs: its grouped branch (a cap above every
    # bucket's size) and its self-join branch (cap=None) return the same
    # rows, payload and duplicate pairs included, for a one- and a
    # two-column bucket key ((band, sig) partitions like bucket)
    from collections import Counter

    from prestodb_presto_spark.operators.pairs import bucket_pairs

    keyed = df.select(
        "*", (F.col("bucket") % 4).alias("band"), F.floor(F.col("bucket") / 4).alias("sig")
    )
    for keys in ("bucket", ["band", "sig"]):
        for payload in ((), ("payload",)):
            for distinct in (True, False):
                capped, uncapped = (
                    Counter(
                        tuple(r)
                        for r in bucket_pairs(keyed, keys, "id", cap, payload, distinct).collect()
                    )
                    for cap in (1000, None)
                )
                assert capped == uncapped, (keys, payload, distinct)
                assert {r[:2] for r in capped} == want
                n = sum(capped.values())
                assert n == len(want) if distinct else n > len(want)
                for r in capped:
                    assert not payload or (r[2], r[3]) == (r[0] * 1000 + 7, r[1] * 1000 + 7)

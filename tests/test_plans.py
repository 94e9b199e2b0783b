"""Plan-shape assertions: the physical plans Catalyst produces for the
catalog queries must be the plans that survive a 100 TB / 1000-executor
scale-up.

Mirrors the reference's plan tests (presto-tests/.../TestQueryPlanDeterminism.java
and the optimizer unit tests under presto-main/src/test/.../sql/planner/):
instead of golden plans we assert the load-bearing physical properties —
broadcast vs shuffle choice, filter/column pushdown into the parquet
scan, partial (map-side) aggregation, and no Python evaluation in hot
relational paths.
"""

from __future__ import annotations

import pytest
from conftest import SF_SMALL

from prestodb_presto_spark.queries import load_all

SF = "/root/testdata/sf0.001"
AGGREGATES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")


@pytest.fixture(scope="module")
def specs():
    return load_all()


def plan_of(spark, specs, name: str) -> str:
    df = specs[name].spark_fn(spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def raw_fact_broadcasts(ops) -> int:
    """How many lineitem scans in an executed plan (``executed_operators``
    pre-order) sit below a BroadcastExchange with no aggregate between:
    each one is a broadcast whose build side holds raw fact rows."""
    found = 0
    path: list[tuple[int, str]] = []  # ancestors of the current operator
    for depth, name, _ in ops:
        while path and path[-1][0] >= depth:
            path.pop()
        if name.startswith("Scan parquet lineitem"):
            for _, above in reversed(path):
                if above in AGGREGATES:
                    break
                if above == "BroadcastExchange":
                    found += 1
                    break
        path.append((depth, name))
    return found


def test_q03_broadcasts_dims_and_takes_ordered(spark, specs):
    """q03: the filtered customer and orders sides must broadcast (no
    lineitem shuffle for the join, and lineitem only probes: no lineitem
    scan under a BroadcastExchange in the executed plan) and top-N must
    be TakeOrderedAndProject, not global sort."""
    from prestodb_presto_spark.ddl import executed_operators

    plan = plan_of(spark, specs, "tpch_q03")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    ops = executed_operators(specs["tpch_q03"].spark_fn(spark, SF))
    names = [name for _, name, _ in ops]
    assert "BroadcastExchange" in names and "Scan parquet lineitem.parquet" in names, names
    assert raw_fact_broadcasts(ops) == 0, names


def test_no_broadcast_of_raw_fact_rows(spark, specs):
    """No catalog query broadcasts raw lineitem rows: every broadcast
    build side is a dimension, a filtered slice of one, or an aggregate
    (Presto replicates a build side only when its statistics say it is
    small, DetermineJoinDistributionType.java:55-69).  Spark without
    CBO estimates an inner join at the product of its inputs, so a
    dimension⋈dimension side looks bigger than the projected fact table
    and the static planner broadcasts the fact table instead.  Read from
    executed plans, so runtime (AQE) broadcasts count too."""
    from prestodb_presto_spark.ddl import executed_operators

    offenders = [
        name
        for name, spec in sorted(specs.items())
        if raw_fact_broadcasts(executed_operators(spec.spark_fn(spark, SF_SMALL)))
    ]
    assert not offenders, f"raw lineitem rows broadcast: {offenders}"


def test_q01_partial_aggregation(spark, specs):
    """q01: hash aggregation must run partial (map-side combine) before the
    exchange — the shuffle carries grouped rows, not raw lineitem."""
    plan = plan_of(spark, specs, "tpch_q01")
    assert "HashAggregate" in plan
    # formatted mode prints both partial_ and final merge groups
    assert plan.count("HashAggregate") >= 2


def test_q06_filter_pushdown(spark, specs):
    """q06: shipdate/discount/quantity predicates must reach the parquet
    scan (PushedFilters), and the scan must prune to the 4 needed columns."""
    plan = plan_of(spark, specs, "tpch_q06")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed or "l_discount" in pushed
    schema = plan.split("ReadSchema:", 1)[1].split("\n", 1)[0]
    assert "l_extendedprice" in schema
    assert "l_orderkey" not in schema  # column pruning


def test_region_nation_always_broadcast(spark, specs):
    """q05-shape: region/nation joins must never shuffle the fact side."""
    plan = plan_of(spark, specs, "tpch_q05")
    assert "BroadcastHashJoin" in plan


def test_semi_and_anti_joins_are_hash_joins(spark, specs):
    """IN/EXISTS forms must lower to hash semi/anti joins, not nested loops
    (BroadcastNestedLoopJoin on a fact table dies at scale)."""
    for name in ("join_semi", "join_anti", "tpch_q21"):
        plan = plan_of(spark, specs, name)
        assert "NestedLoop" not in plan, f"{name} fell back to nested loop"


def test_window_topn_uses_group_limit(spark, specs):
    """rank<=k over window must push a WindowGroupLimit (Spark 3.5+) so
    each partition keeps k rows instead of sorting everything."""
    plan = plan_of(spark, specs, "window_topn_per_group")
    assert "WindowGroupLimit" in plan


def test_no_python_udf_in_relational_paths(spark, specs):
    """Every relational/TPC-H/function query must stay JVM-side: Python
    appears only in explicitly-Python modules (text/multimodal)."""
    offenders = []
    for name, spec in specs.items():
        # pandas-tier: queries whose SURVEY-documented implementation is
        # the Arrow-batched pandas-UDF tier (regexp_replace(lambda),
        # Greiner-Hormann geometry clipping) — Python there is the design,
        # not a leak.
        if any(tag in spec.tags for tag in ("text", "multimodal", "pandas-tier")):
            continue
        if name.startswith(("text_", "dedup_minhash", "dedup_simhash")):
            continue
        plan = plan_of(spark, specs, name)
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
            offenders.append(name)
    assert not offenders, f"Python eval in hot path: {offenders}"


def test_whole_stage_codegen_active(spark, specs):
    """q01's agg pipeline must be inside WholeStageCodegen spans.

    (codegen explain mode — AQE's pre-execution formatted plan hides the
    codegen annotation behind isFinalPlan=false.)
    """
    df = specs["tpch_q01"].spark_fn(spark, SF)
    df.collect()  # AQE finalizes the physical plan only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    # "*(n) HashAggregate" asterisks are the codegen-stage markers
    assert "*(1)" in plan and "HashAggregate" in plan


def test_scan_reuse_not_required_but_no_cartesian(spark, specs):
    """No catalog query may contain a CartesianProduct except the explicit
    cross-join entry (cartesian on a fact table = dead at 100 TB)."""
    offenders = []
    for name, spec in specs.items():
        if name == "join_cross":
            continue
        plan = plan_of(spark, specs, name)
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, f"unexpected cartesian product: {offenders}"


def test_spatial_join_broadcasts_polygons(spark, specs):
    """join_spatial_contains: the polygon set must broadcast (BNLJ with a
    ray-cast predicate) — never a CartesianProduct or a shuffle join of
    the point table."""
    plan = plan_of(spark, specs, "join_spatial_contains")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_multimodal_decode_is_narrow(spark, specs):
    """multimodal_decode_features: mapInPandas must run directly over the
    scan with no exchange before it (narrow transform — input
    partitioning preserved)."""
    plan = plan_of(spark, specs, "multimodal_decode_features")
    assert "MapInPandas" in plan
    # the only exchange allowed is the final ORDER BY's rangepartitioning
    # (downstream of the decode) — a hash/round-robin exchange would mean
    # the narrow transform got shuffled
    assert "hashpartitioning" not in plan and "roundrobin" not in plan.lower()
    assert "rangepartitioning" in plan


def test_no_forced_broadcast_of_sf_scaled_tables():
    """Source-level scale guard: explicit broadcast hints in the TPC-H
    module are allowed ONLY on nation/region dims and 1-row scalar
    aggregates.  Broadcast-vs-shuffle for SF-scaled tables
    (supplier/part/customer and anything derived from a fact table) is
    AQE's size-based runtime call — reference parity:
    DetermineJoinDistributionType.java:55-69.  A forced broadcast of an
    SF-scaled side is a driver/executor OOM at SF 10^5."""
    import pathlib
    import re

    src = pathlib.Path("prestodb_presto_spark/queries/tpch.py").read_text()
    # operands ever allowed inside F.broadcast(...)/.hint("broadcast"):
    #   nation/region loads (any projection/filter), the nation⋈region 'geo'
    #   slice, filtered-nation aliases, and the 1-row scalar aggregates.
    allowed = re.compile(
        r"""F\.broadcast\(\s*(
              t\(spark,\ sf_dir,\ "(nation|region)"     # dim loads
            | (nation|region|nat|geo)\b                 # dim aliases
            | (max_rev|avg_bal|total)\b                 # 1-row scalar aggs
        )""",
        re.VERBOSE,
    )
    for m in re.finditer(r"F\.broadcast\([^)]*|\.hint\(\s*['\"]broadcast", src):
        snippet = m.group(0)
        if snippet.startswith(".hint"):
            raise AssertionError(f"explicit .hint('broadcast') in tpch.py: {snippet!r}")
        assert allowed.match(snippet), f"forced broadcast of SF-scaled operand: {snippet!r}"


def test_ivf_ann_broadcasts_probes_not_corpus(spark, specs):
    """similarity_ivf_ann: the centroid table and the probe table are
    tiny and must BROADCAST; the indexed corpus must never shuffle for
    candidate selection (at 100 TB the corpus side is the fact table).
    Cell assignment collapses in a partial aggregate before its one
    shuffle."""
    plan = plan_of(spark, specs, "similarity_ivf_ann")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # candidate selection = broadcast join against indexed corpus, not a
    # sort-merge join shuffling vectors
    assert "SortMergeJoin" not in plan


def test_banded_lsh_partial_aggregation(spark, specs):
    """dedup_embedding_cosine: the 80-accumulator signature aggregation
    must run map-side partial aggregation (shuffle = 80 longs/vector,
    never the exploded (vec, dim, value) rows)."""
    plan = plan_of(spark, specs, "dedup_embedding_cosine")
    assert "partial_" in plan.lower() or "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_epoch_repeat_is_map_only(spark, specs):
    """sample_epoch_repeat claims ZERO corpus shuffles: the only
    exchange in the plan must be the presentation ORDER BY's range
    partitioning — no aggregation or join exchange anywhere."""
    plan = plan_of(spark, specs, "sample_epoch_repeat")
    assert "Join" not in plan, plan[:600]
    assert "HashAggregate" not in plan
    # explode + project + the final sort only
    assert "Generate" in plan  # the per-row repeat explode


def test_attribution_rank1_uses_group_limit(spark, specs):
    """events_attribution_lasttouch's last-touch pick (rank-1 per
    purchase) must plan as WindowGroupLimit, and both join inputs must
    be type-filtered BEFORE the join (pushed scan filters)."""
    plan = plan_of(spark, specs, "events_attribution_lasttouch")
    assert "WindowGroupLimit" in plan
    assert "PushedFilters" in plan


def test_funnel_windowed_no_collect_list(spark, specs):
    """The parameterized windowed funnel must hold O(1) per-group state:
    no collect_list/sort_array anywhere in its plan (the conditional-min
    chain), unlike the fold-form events_funnel_steps."""
    plan = plan_of(spark, specs, "events_funnel_windowed")
    assert "collect_list" not in plan
    assert "min(" in plan


def test_bigram_model_broadcasts(spark, specs):
    """text_bigram_logprob's known-bigram table must BROADCAST into the
    scoring join (the top-K cut is what makes the model broadcastable),
    and the top-K itself must be a TakeOrdered, not a global sort."""
    plan = plan_of(spark, specs, "text_bigram_logprob")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_domain_cap_uses_group_limit_and_split_is_map_only(spark, specs):
    """sample_domain_cap's rk<=N must plan as WindowGroupLimit (per-task
    top-N before the exchange); sample_split_holdout must contain no
    window/join — one partial/final aggregate over a map-only split."""
    plan = plan_of(spark, specs, "sample_domain_cap")
    assert "WindowGroupLimit" in plan
    plan = plan_of(spark, specs, "sample_split_holdout")
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_runtime_bloom_filter_injection(spark):
    """Spark's runtime bloom-filter injection (the dynamic-filtering
    analog Presto ships for Hive scans) is available and fires on the
    canonical shape — selective dimension filter + shuffle join — once
    the size thresholds match the data (defaults are tuned for 10 GB+
    probe scans; at 100 TB they fire out of the box).  Asserts the probe
    side gains a bloom might_contain filter BEFORE the exchange."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1KB",
        )
        li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        j = li.join(
            orders.filter(F.col("o_orderpriority") == "1-URGENT"),
            li["l_orderkey"] == orders["o_orderkey"],
        ).agg(F.count("*").alias("n"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan or "bloom" in plan.lower(), plan[:2000]
        # and it must not have broken the answer
        assert j.collect()[0].n > 0
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_lsh_bucket_cap_guard_is_algebraic(spark, specs):
    """The hot-bucket cap guard must NOT be a window over the bucket key:
    count(*) over (partition by bucket) buffers the degenerate bucket it
    exists to bound in ONE task.  Round-10 fix (operators/skew.
    drop_hot_buckets): groupBy(bucket).count() (map-side combined) +
    broadcast anti join-back.  Asserts (a) no Window node anywhere in
    the capped dedup/ANN plans, (b) the guard's join-back IS a broadcast
    join in the standalone capped pipeline."""
    for name in (
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_embedding_cosine",
        "dedup_incremental",
    ):
        plan = plan_of(spark, specs, name)
        assert "Window" not in plan, f"{name}: window survived in capped LSH plan"

    # standalone receipt on a synthetic mega-bucket: 3000 identical docs
    # (one boilerplate cluster = one hot bucket per band) plus a tail
    from pyspark.sql import functions as F

    from prestodb_presto_spark.text.minhash import lsh_candidate_pairs

    docs = spark.range(3200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 3000, F.lit("the same boilerplate text repeated everywhere"))
        .otherwise(F.concat(F.lit("unique document body number "), F.col("id")))
        .alias("text"),
    )
    cands = lsh_candidate_pairs(docs, bucket_cap=200)
    plan = cands._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:3000]
    # round 11: the guard must not re-derive its input subtree — the
    # band rows are lazily localCheckpoint-ed, so every consumer (hot
    # list, anti-join probe, pair expansion) reads the checkpointed
    # blocks (Scan ExistingRDD) and the shingle→minhash→banding pipeline
    # (its posexplode) appears NOWHERE in this plan (it ran once, inside
    # the checkpoint job).  r10's unpersisted form re-ran it per branch:
    # +45% wall on dedup_minhash_lsh.  The capped path also generates
    # pairs by bucket-grouped expansion (ONE groupBy-bh shuffle +
    # in-task i<j explode, bounded by the cap) instead of a self-equi-
    # join (TWO shuffles of the band rows) — exactly one Generate (the
    # pair explode), zero self-joins of the band relation.
    assert "Scan ExistingRDD" in plan
    assert "posexplode" not in plan, plan[:3000]
    import re as _re

    # formatted explain prints each node in the tree AND a details
    # section — count unique node headers
    assert len(_re.findall(r"\(\d+\) Generate", plan)) == 1, plan[:3000]
    # mega-bucket dropped: the 3000-doc boilerplate cluster (ids < 3000)
    # contributes ZERO candidates — without the cap it alone yields
    # ~4.5M pairs.  (The 200 tail docs share 2 of their 3 shingles, so
    # nearly all tail pairs are legitimately candidates.)
    agg = cands.agg(
        F.sum((F.col("id_a") < 3000).cast("int")).alias("hot"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert agg.hot == 0
    assert agg.n <= 200 * 199 // 2


def test_hll_registers_plan_without_object_buffer_fallback(engine):
    """approx_distinct beside count(DISTINCT ..) plans its packed
    registers as one more group of the distinct expansion: fixed-width
    HashAggregates below the shuffle, so no ObjectHashAggregate holds a
    per-value buffer and falls back to sort, and no SortAggregate
    follows.  The register and entry expressions carry no CAST, which
    the dialect would pivot through DECIMAL(38,0) per row."""
    from prestodb_presto_spark.ddl import executed_operators
    from prestodb_presto_spark.dialect import translate

    sql = (
        "SELECT l_returnflag, count(DISTINCT l_partkey), approx_distinct(l_partkey)"
        " FROM lineitem GROUP BY 1"
    )
    for text in (translate(sql), translate("SELECT approx_set(x) FROM t")):
        assert "DECIMAL(38,0)" not in text and "collect_set(" not in text, text
    ops = executed_operators(engine.sql(sql, dialect="presto"))
    names = [name for _, name, _ in ops]
    assert "SortAggregate" not in names, names
    fallbacks = [
        m["numTasksFallBacked"] for _, name, m in ops if name == "ObjectHashAggregate"
    ]
    assert fallbacks and not any(fallbacks), fallbacks


# perfbench's olap_tpch working set (perfbench/workloads.py OLAP_TPCH)
WARM_SET = (
    "tpch_q01",
    "tpch_q03",
    "tpch_q05",
    "tpch_q06",
    "tpch_q09",
    "tpch_q13",
    "tpch_q18",
    "tpch_q21",
    "join_semi",
    "agg_multi_distinct",
    "orderby_limit_topn",
    "window_topn_per_group",
)


def test_warm_pass_compiles_no_classes(spark, specs):
    """Spark's generated-class cache holds a whole working set, as
    Presto's per-expression class cache does (PageFunctionCompiler).
    One pass of the olap_tpch queries compiles more classes than
    Spark's default cache keeps (100), so with that default a second
    pass in the same order compiles every class again; with the size
    session.get_spark sets it compiles none.  The cache is emptied
    first so the first pass is cold whatever ran before it in this
    session."""
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    cache = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    ).getDeclaredField("cache")
    cache.setAccessible(True)
    cache.get(None).loadingCache().invalidateAll()
    counts = []
    for _ in range(2):
        before = compiles.getCount()
        for name in WARM_SET:
            specs[name].spark_fn(spark, SF).write.format("noop").mode("overwrite").save()
        counts.append(compiles.getCount() - before)
    assert counts[0] > 100 and counts[1] == 0, counts


def test_one_row_broadcast_is_not_a_page(spark, specs):
    """tpch_q15's max_rev is one row, and its broadcast must be sized to
    it: a hashed relation built in a whole Tungsten page (32-64 MiB in this
    session at Spark's default ``spark.buffer.pageSize``) reported the
    page as its ``dataSize``.  ``get_spark`` caps pages at 4 MiB."""
    from prestodb_presto_spark.ddl import executed_operators

    ops = executed_operators(specs["tpch_q15"].spark_fn(spark, SF_SMALL))
    one_row = [m for _, name, m in ops if name == "BroadcastExchange" and m["numOutputRows"] == 1]
    assert one_row, [name for _, name, _ in ops]
    assert all(m["dataSize"] <= 4 * 2**20 + 64 * 2**10 for m in one_row), one_row


def test_driver_buffers_fit_the_heap(spark):
    """A torrent broadcast piece (plus a 16-byte array header) stays
    under half a G1 region, so it is an ordinary young allocation and
    not a humongous object in regions of its own; Tungsten pages are
    4 MiB (module docstring of ``session``)."""
    jvm = spark._jvm
    diag = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    sc = spark.sparkContext._jsc.sc()
    assert sc.env().memoryManager().pageSizeBytes() == 4 * 2**20
    if diag.getVMOption("UseG1GC").getValue() != "true":
        pytest.skip("the driver JVM does not run G1")
    region = int(diag.getVMOption("G1HeapRegionSize").getValue())
    piece = sc.conf().getSizeAsBytes("spark.broadcast.blockSize", "4m")
    assert piece + 16 < region // 2, (piece, region)

#!/usr/bin/env python3
"""Benchmark harness — the driver runs this per round (BENCH_r{N}.json).

Runs the headline query set at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": "...", "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1}

Query set mirrors the reference's benchmark shapes
(presto-benchmark/.../BenchmarkSuite.java:32-90: filter/agg micro,
hash join, semi join, distinct, top-N, window, hand-built TPC-H) plus
the north-star pipeline operators (dedup, knn, sessionization).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from prestodb_presto_spark.queries import load_all
from prestodb_presto_spark.session import get_spark

BENCH_QUERIES = [
    # reference micro-benchmark shapes
    "tpch_q01",            # hash agg (HandTpchQuery1)
    "tpch_q06",            # predicate filter + global agg (HandTpchQuery6)
    "tpch_q03",            # hash join + topN
    "tpch_q05",            # multi-join
    "tpch_q09",            # join tree + agg
    "tpch_q13",            # outer join + double agg
    "tpch_q18",            # having + topN
    "tpch_q21",            # exists/not-exists anti-join chain
    "join_semi",           # semi join (IN)
    "agg_multi_distinct",  # multi-field distinct
    "agg_checksum",        # order-independent checksum agg
    "orderby_limit_topn",  # top-N
    "window_topn_per_group",
    "fn_string_ops",       # scalar-function pipeline (LIKE/regexp family)
    # north-star pipeline
    "dedup_exact",
    "dedup_minhash_lsh",
    "similarity_knn_top1",
    "text_quality_score",
    "events_session_window",
]


def _calibrate(n_probes: int = 5) -> float:
    """Fixed CPU-bound probe: a deterministic single-thread loop whose
    wall time anchors this machine-hour's effective speed.  Runs on a
    QUIET process — before the Spark JVM starts and again after it
    stops (a live 32-core JVM's GC/background threads inflate the
    probe, which would shrink the normalized total — round-7 advice).

    Round 9: MIN of n_probes runs, not a single run — one scheduler
    preemption spike in a lone probe read as 'the machine changed
    speed' and flagged the whole r8 snapshot calib_divergent.  The min
    measures clean single-thread capacity (the same statistic
    REF_CALIB_SEC is pinned to: min of 8 on an idle sample); genuine
    mid-run speed changes still diverge because both sides take mins."""
    best = float("inf")
    for _ in range(n_probes):
        t0 = time.time()
        acc = 0
        for i in range(10_000_000):
            acc += i * i
        assert acc >= 0
        best = min(best, time.time() - t0)
    return round(best, 3)


_BENIGN_EVENT = re.compile(
    r"ERROR DAGScheduler: Failed to update accumulator \d+ \(Unknown class\)"
)


def _classify_log_events(segment: str) -> list[str]:
    """Compress a driver-log slice to its attributable events: ERROR
    lines and the first line of each WARN that names a task/stage loss.
    (Round-12 task: BENCH_r11 carried a truncated DAGScheduler stack in
    the driver's stderr tail with no owning query — never again.)

    Round-13 (VERDICT #3): the one KNOWN-BENIGN pattern is suppressed —
    "ERROR DAGScheduler: Failed to update accumulator N (Unknown class)".
    Cause: dedup's lazy ``localCheckpoint`` triggers
    ``AdaptiveSparkPlanExec`` to materialize its shuffle stages inside
    ``toRdd``; when a straggler task of such a stage completes after the
    owning QueryExecution's SQL-metric accumulators have been
    unregistered (the checkpointed RDD outlives the plan that built it),
    the DAGScheduler logs this per orphaned metric.  Results and
    timings are unaffected — the same query hash-matches the oracle in
    every gate run, and the events appear only intermittently on
    straggler-heavy runs (absent in 4 of 5 r13 bench runs, present in
    r12's).  Any OTHER error still surfaces."""
    events: list[str] = []
    for line in segment.splitlines():
        if _BENIGN_EVENT.search(line):
            continue
        if " ERROR " in line or (
            " WARN " in line
            and any(k in line for k in ("TaskSetManager", "Lost task", "FetchFailed"))
        ):
            events.append(line[:400])
        if len(events) >= 20:
            events.append("... (truncated at 20 events)")
            break
    return events


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    calib_sec = _calibrate()  # before the JVM exists
    # route the driver JVM's log4j2 output to a file too, so per-query
    # byte offsets attribute any task failure/retry to its query
    log_path = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), f"bench_spark_driver_{os.getpid()}.log"
    )
    log_conf = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tools", "bench_log4j2.properties"
    )
    spark = get_spark(
        "bench",
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Dlog4j.configurationFile=file:{log_conf} -Dbench.spark.log={log_path}"
            )
        },
    )

    def _log_offset() -> int:
        try:
            return os.path.getsize(log_path)
        except OSError:
            return 0

    def _log_segment(start: int) -> str:
        try:
            with open(log_path, "r", errors="replace") as f:
                f.seek(start)
                return f.read()
        except OSError:
            return ""
    specs = load_all()

    # Warm-up (not timed): run every bench query once at the smallest SF so
    # the JVM JITs the hot paths before timing — the reference harness does
    # the same (AbstractBenchmark's warm-up iterations before measured
    # runs).  Data volume is 1% of the timed run.  The classes whole-stage
    # codegen compiles here survive into the timed runs only while the
    # generated-class cache holds the whole pass: with Spark's default 100
    # entries the 19 queries evicted each other's classes, so each query's
    # first timed run compiled again (codegen_compiles records it).
    warm_dir = "/root/testdata/sf0.001"
    for name in BENCH_QUERIES:
        try:
            specs[name].spark_fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # pragma: no cover - warm-up must never fail the bench
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)

    # committed per-query baseline (BENCH_r01 @ sf0.1): regressions are
    # detectable per query, not just in the driver's round totals
    baseline: dict[str, float] = {}
    base_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_BASELINE.json")
    if os.path.exists(base_path):
        with open(base_path) as f:
            recorded = json.load(f)
        if recorded.get("sf") == sf:
            baseline = recorded.get("queries", {})

    # Measurement hygiene (round-5 verdict): the r5 snapshot showed a
    # uniform ~1.1-1.5x inflation across EVERY query with zero bench-path
    # code changes — the signature of machine load, not a plan regression.
    # Record the 1-minute load average before and after so a contaminated
    # snapshot is self-identifying, run 3 timed iterations per query, and
    # report the min (the standard low-noise wall-time estimator, also
    # the most load-robust) alongside the per-query median.
    #
    # Round-6 finding: this box is a VM on an OVERSUBSCRIBED host —
    # /proc/stat shows hypervisor STEAL even at loadavg ~1, and the steal
    # share varies over hours, uniformly inflating every query.  Loadavg
    # cannot see it, so the steal-tick delta across the timed run is
    # recorded too: steal_pct is the definitive contamination metric
    # (≈0% → trustworthy numbers; >5% → rerun before comparing).
    def _steal_ticks():
        try:
            with open("/proc/stat") as f:
                parts = f.readline().split()
            return int(parts[8]) if len(parts) > 8 else None
        except (OSError, ValueError):
            return None

    load_before = os.getloadavg()[0] if hasattr(os, "getloadavg") else None
    steal_before = _steal_ticks()
    # calib_sec was measured at process start (quiet, pre-JVM); compare
    # it across snapshots before comparing query seconds — if both
    # inflate together, the machine slowed, not the plans.
    wall_start = time.time()

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    # 5 iterations (round 10, was 3): this host's hypervisor noise showed
    # back-to-back total swings of 16s vs 26s with identical code — min-of-5
    # keeps one clean pass per query far more likely through a noise burst.
    log_events: dict[str, list[str]] = {}
    # classes compiled, and milliseconds spent compiling them, over each
    # query's 5 timed runs: 0 once the query's classes are cached
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    codegen_compiles: dict[str, int] = {}
    codegen_compile_ms: dict[str, float] = {}
    for name in BENCH_QUERIES:
        fn = specs[name].spark_fn
        runs: list[float] = []
        seg_start = _log_offset()
        n0, ns0 = compiles.getCount(), codegen.CodeGenerator.compileTime()
        for _ in range(5):
            t0 = time.time()
            df = fn(spark, sf_dir)
            # noop sink: forces full materialization of every output column
            # (count() would let Catalyst prune the payload)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
        codegen_compiles[name] = compiles.getCount() - n0
        codegen_compile_ms[name] = round((codegen.CodeGenerator.compileTime() - ns0) / 1e6, 1)
        events = _classify_log_events(_log_segment(seg_start))
        if events:
            log_events[name] = events
        runs.sort()
        timings[name] = round(runs[0], 3)
        medians[name] = round(runs[len(runs) // 2], 3)
        ratio = f" ({timings[name] / baseline[name]:.2f}x baseline)" if baseline.get(name) else ""
        flag = f" [{len(events)} log events]" if events else ""
        print(f"# {name}: min {timings[name]:.3f}s median {medians[name]:.3f}s{ratio}{flag}", file=sys.stderr)

    load_after = os.getloadavg()[0] if hasattr(os, "getloadavg") else None
    ncpu = os.cpu_count() or 1
    steal_after = _steal_ticks()
    # r14 (VERDICT #2): self-prove the core-count knob — record the master
    # string and the scheduler's defaultParallelism straight from the live
    # context, so a flat 8-vs-32-core ratio is attributable to the input
    # layout (the driver-owned fixture parquets are single-row-group files,
    # so every scan is ONE task at any core count; TESTDATA.md forbids
    # regenerating them) and not to the env var being ignored.
    spark_master = spark.sparkContext.master
    default_parallelism = spark.sparkContext.defaultParallelism
    # the after-probe must run on a QUIET process: with the 32-core Spark
    # JVM still alive, GC/background threads inflate the probe, which
    # would SHRINK the normalized total (round-7 advice).  All timed work
    # is done — stop Spark first, then calibrate.
    spark.stop()
    calib_after = _calibrate()
    steal_pct = None
    if steal_before is not None and steal_after is not None:
        wall = max(time.time() - wall_start, 1e-9)
        # /proc/stat ticks are USER_HZ (100/s) summed across all CPUs
        steal_pct = round(
            100.0 * (steal_after - steal_before) / (wall * ncpu * 100.0), 2
        )
    bench_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # calibration-normalized total: the host's effective CPU speed varies
    # ~2x at minute granularity (oversubscribed hypervisor), so totals
    # from different machine-hours are not directly comparable.  Scale by
    # the single-thread probe against the committed reference constant.
    # value stays the raw wall time; judges compare
    # value_calib_normalized across rounds.
    #
    # Probe methodology changed in round 8 (quiet-process probes: before
    # JVM start / after JVM stop — the old probes ran with the 32-core
    # JVM alive, inflating them ~15-20% and biasing the normalized total
    # DOWN).  REF_CALIB_SEC is re-pinned to the fastest clean
    # quiet-process probe on record (round-8 idle sample, steal ~0%,
    # min of 8 = 0.464); pre-r8 normalized values used 0.557 under the
    # old method and are not directly comparable.
    REF_CALIB_SEC = 0.464
    calib_mean = (calib_sec + calib_after) / 2.0
    # both probes now run on a quiet process (before Spark start / after
    # Spark stop).  If they still diverge sharply the machine's speed
    # CHANGED during the run — the snapshot is contaminated, not
    # normalizable: publish both probes and no normalized value.
    calib_divergent = (
        abs(calib_sec - calib_after) / max(min(calib_sec, calib_after), 1e-9)
        > 0.25
    )
    # external load flag: load_before is measured BEFORE any timed work,
    # so anything beyond a small fixed headroom is another process
    # competing for the bench's cores
    loaded = bool(load_before is not None and load_before > 4.0)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_time",
                "value": total,
                "value_calib_normalized": round(
                    total * REF_CALIB_SEC / calib_mean, 3
                ) if calib_mean > 0 and not calib_divergent else None,
                "calib_divergent": calib_divergent,
                "ref_calib_sec": REF_CALIB_SEC,
                "unit": "sec",
                "queries": timings,
                "medians": medians,
                "sf": sf,
                "load_avg_before": load_before,
                "load_avg_after": load_after,
                "steal_pct": steal_pct,
                "calib_sec": calib_sec,
                "calib_sec_after": calib_after,
                "cpus": ncpu,
                "bench_cpus": bench_cpus,
                "spark_master": spark_master,
                "default_parallelism": default_parallelism,
                "machine_loaded_at_start": loaded,
                # per-query driver-log ERROR / task-loss events (empty =
                # clean run; a retried task during a timing loop shows up
                # here attributed to its query, not as a stderr mystery)
                "log_events": log_events,
                "codegen_compiles": codegen_compiles,
                "codegen_compile_ms": codegen_compile_ms,
            }
        )
    )


if __name__ == "__main__":
    main()

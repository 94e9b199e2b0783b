"""UDTF surface (§2.7) and bench-harness smoke (§5 layer 7 —
TestBenchmarks pattern: every benchmark must run green)."""

from __future__ import annotations

import json
import os
import subprocess
import sys


def test_ngram_udtf(spark):
    from prestodb_presto_spark.functions.udtf_fns import register_udtfs

    register_udtfs(spark)
    rows = spark.sql("SELECT * FROM ngrams_table('a b c d', 2) ORDER BY start_pos").collect()
    assert [(r.ngram, r.start_pos) for r in rows] == [("a b", 0), ("b c", 1), ("c d", 2)]
    # lateral-join usage over a table
    spark.createDataFrame([(1, "x y z")], "id long, txt string").createOrReplaceTempView("udtf_src")
    n = spark.sql(
        "SELECT s.id, g.ngram FROM udtf_src s, LATERAL ngrams_table(s.txt, 2) g"
    ).count()
    assert n == 2


def test_bench_harness_smoke():
    """bench.py must emit exactly one valid JSON line with every declared
    query timed — the driver consumes this per round."""
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="8",
    )
    proc = subprocess.run(
        [sys.executable, "/root/repo/bench.py"],
        capture_output=True,
        text=True,
        timeout=560,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")]
    assert len(lines) == 1
    payload = json.loads(lines[0])
    assert payload["unit"] == "sec" and payload["value"] > 0
    import bench

    assert set(payload["queries"]) == set(bench.BENCH_QUERIES)
    assert all(v >= 0 for v in payload["queries"].values())
    # classes compiled over each query's timed runs, from Spark's codegen metrics
    assert set(payload["codegen_compiles"]) == set(bench.BENCH_QUERIES)
    assert set(payload["codegen_compile_ms"]) == set(bench.BENCH_QUERIES)
    assert all(v >= 0 for v in payload["codegen_compiles"].values())
    # peak RSS (VmHWM) of the Spark JVM and of the Python driver
    assert payload["jvm_hwm_mb"] > 0 and payload["py_hwm_mb"] > 0

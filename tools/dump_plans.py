#!/usr/bin/env python3
"""Run chosen queries at sf0.1 and dump each one's executed plan to
plans/<dir>/<q>_<tag>.txt: the final (post-AQE) formatted plan, then
every operator with its runtime SQL metrics (``ddl.explain_analyze``),
so broadcast sizes and row counts are read from what actually ran.

Usage: PYTHONPATH=<repo> python tools/dump_plans.py <out_dir> <tag> q1,q2,...
"""

from __future__ import annotations

import os
import sys

from prestodb_presto_spark.ddl import explain_analyze
from prestodb_presto_spark.queries import load_all
from prestodb_presto_spark.session import get_spark


def main() -> None:
    out_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans", shuffle_partitions=32)
    specs = load_all()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in names:
        df = specs[name].spark_fn(spark, "/root/testdata/sf0.1")
        operators = explain_analyze(df)  # executes; AQE finalizes the plan
        plan = df._jdf.queryExecution().explainString(mode)
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(f"{plan}\n== Executed operators and metrics ==\n{operators}\n")
        print(f"wrote {name}_{tag}.txt ({len(plan)} bytes)")


if __name__ == "__main__":
    main()

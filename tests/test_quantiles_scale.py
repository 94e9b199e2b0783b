"""weighted_quantile_by_group — the bounded-memory scale twin of the
dialect's qdigest-pick parity form (functions/quantiles.py).

Equality oracle: the dialect path itself (engine.sql approx_percentile,
which test_reference_aggregation_suite pins to the reference's asserted
values) — on grouped, global, weighted, unit-weight, duplicate-heavy
and skewed inputs the two forms must agree exactly.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from prestodb_presto_spark.functions.quantiles import weighted_quantile_by_group
from tests.test_reference_abstract_queries import aq_env  # noqa: F401 — fixture


@pytest.mark.parametrize("q", [0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0])
def test_equals_parity_fold_weighted_grouped(aq_env, q):
    engine, _fresh = aq_env
    spark = engine.spark
    rng = random.Random(42)
    rows = [
        (f"g{i % 5}", rng.randrange(0, 200), rng.randrange(1, 9))
        for i in range(4_000)
    ]
    df = spark.createDataFrame(rows, "g string, v bigint, w bigint")
    df.createOrReplaceTempView("__wq")
    want = {
        r.g: r.p
        for r in engine.sql(
            f"SELECT g, approx_percentile(v, w, {q}) AS p FROM __wq GROUP BY g",
            dialect="presto",
        ).collect()
    }
    got = {
        r.g: r.approx_percentile
        for r in weighted_quantile_by_group(df, ["g"], "v", "w", q).collect()
    }
    assert got == want, (q, got, want)


def test_equals_parity_fold_global_and_unit(aq_env):
    engine, _fresh = aq_env
    spark = engine.spark
    rng = random.Random(7)
    rows = [(rng.randrange(0, 50),) for _ in range(3_000)]
    df = spark.createDataFrame(rows, "v bigint")
    df.createOrReplaceTempView("__wq2")
    for q in (0.1, 0.5, 0.9):
        want = engine.sql(
            f"SELECT approx_percentile(v, {q}) AS p FROM __wq2",
            dialect="presto",
        ).collect()[0].p
        got = (
            weighted_quantile_by_group(df, [], "v", None, q)
            .collect()[0]
            .approx_percentile
        )
        assert got == want, (q, got, want)


def test_nulls_and_empty(aq_env):
    engine, _fresh = aq_env
    spark = engine.spark
    df = spark.createDataFrame(
        [("a", None, 1), ("a", 10, 1), ("b", None, 1)],
        "g string, v bigint, w bigint",
    )
    got = {
        r.g: r.approx_percentile
        for r in weighted_quantile_by_group(df, ["g"], "v", "w", 0.5).collect()
    }
    # NULL values are skipped; a group with no non-NULL values is absent
    # (Presto GROUP BY emits it with NULL — callers left-join)
    assert got == {"a": 10}


def test_scale_plan_shape(aq_env):
    """The twin's physical plan: no collect buffer anywhere — the only
    aggregates are partial-combinable sum/min/max over (keys, value)
    rows, and the cumulative sum is a sort-based (spillable) window."""
    engine, _fresh = aq_env
    spark = engine.spark
    df = spark.range(1000).selectExpr(
        "CAST(id % 3 AS STRING) AS g", "id % 97 AS v", "id % 5 + 1 AS w"
    )
    out = weighted_quantile_by_group(df, ["g"], "v", "w", 0.5)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "collect_list" not in plan, plan
    assert "partial_sum" in plan, plan
    assert "Window" in plan, plan

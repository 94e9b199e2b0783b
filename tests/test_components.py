"""Connected-components operator: correctness on known graphs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prestodb_presto_spark.operators.components import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "src: long, dst: long")
    return {r.node: r.component for r in connected_components(df).collect()}


def test_chain_and_clique_and_isolated_pair(spark):
    # chain 1-2-3-4-5, clique {10,11,12}, pair {20,21}
    edges = [(1, 2), (2, 3), (3, 4), (4, 5),
             (10, 11), (11, 12), (10, 12),
             (20, 21)]
    got = _cc(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_long_chain_converges_via_pointer_jumping(spark):
    # a 64-node chain: naive propagation needs 63 rounds; pointer jumping
    # must finish well inside max_iter=25 (O(log n))
    edges = [(i, i + 1) for i in range(64)]
    got = _cc(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 65


def test_unconverged_labels_raise(spark):
    # one round of pointer jumping cannot collapse a 64-node chain
    edges = spark.createDataFrame([(i, i + 1) for i in range(64)], "src: long, dst: long")
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(edges, max_iter=1)


def test_merge_of_two_clusters_through_bridge(spark):
    # two stars joined by one bridge edge collapse to one component
    edges = [(100, x) for x in range(101, 106)] + \
            [(200, x) for x in range(201, 206)] + [(105, 205)]
    got = _cc(spark, edges)
    assert set(got.values()) == {100}

"""Connected components over an edge list — transitive duplicate groups.

Near-duplicate detection (MinHash-LSH, SimHash, embedding-cosine) emits
*pair* evidence; real dedup wants the transitive closure: if A~B and
B~C, then {A,B,C} is one group and one representative survives.  The
reference engine has no iterative operator (its EXCEPT/INTERSECT world
stops at pairs); this is a north-star pipeline module in the spirit of
the MapReduce connected-components literature (Kiveris et al., "CC in
MapReduce and Beyond" — the two-phase star algorithms this converges
like).

Algorithm: min-label propagation with pointer jumping.
  lab(u) ← min(lab(u), min over neighbors lab(v))     [one shuffle join]
  lab(u) ← lab(lab(u))                                [path compression]
Pointer jumping halves chain depth each round, so convergence is
O(log diameter) iterations, not O(diameter) — for LSH dedup graphs
(cluster size already bounded by the hot-bucket cap) 2-3 rounds.

Scale notes (100 TB posture):
  - per iteration: one join edges⋈labels (shuffle on node id, the same
    key every round — Catalyst reuses the partitioning) + one
    label-compression self-join; payload is 2 longs per edge/node.
  - the driver-side loop is inherent to iterative fixpoints (the same
    shape GraphX/GraphFrames use); each iteration's convergence check
    is a single count() action on the changed-label set.
  - an eager materialization boundary (operators/materialize,
    truncate_required=True) truncates lineage each round — without it
    the plan doubles per iteration and the optimizer re-analyzes O(2^k)
    nodes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_MAX_ITER = 25


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = DEFAULT_MAX_ITER,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = the
    smallest node id reachable over undirected edges.

    Nodes with no edge do not appear (a caller wanting singletons can
    union them back with component = their own id).  Raises
    RuntimeError when the labels still change in the ``max_iter``-th
    round: unconverged labels would silently split a component.
    """
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    from prestodb_presto_spark.operators.materialize import materialize

    lab = materialize(
        sym.groupBy("u")
        .agg(F.least(F.min("v"), F.col("u")).alias("lab"))
        .select(F.col("u").alias("node"), "lab"),
        truncate_required=True,
    )
    for _ in range(max_iter):
        # neighbor minimum: the smallest label in N(u)
        nbr_min = (
            sym.join(lab, sym.v == lab.node)
            .groupBy("u")
            .agg(F.min("lab").alias("nlab"))
        )
        new = (
            lab.join(nbr_min, lab.node == nbr_min.u, "left")
            .select("node", F.least("lab", F.coalesce("nlab", "lab")).alias("lab"))
        )
        # pointer jumping: lab(u) ← lab(lab(u))
        hop = new.select(F.col("node").alias("h_node"), F.col("lab").alias("h_lab"))
        new = materialize(
            new.join(hop, new.lab == hop.h_node, "left")
            .select("node", F.coalesce("h_lab", "lab").alias("lab")),
            truncate_required=True,
        )
        changed = (
            new.alias("n")
            .join(lab.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.lab") != F.col("o.lab"))
            .count()
        )
        lab = new
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: labels still changed after max_iter={max_iter} rounds"
        )
    return lab.select("node", F.col("lab").alias("component"))

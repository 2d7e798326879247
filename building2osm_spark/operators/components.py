"""Connected components over an edge list (SURVEY.md J10, X10).

The one primitive behind every "which rows belong together" question in
the engine: shared-vertex building groups for rectify
(geometry_passes), candidate-graph components for greedy conflation
(conflate) and near-duplicate clusters (dedupe.pair_components). Each
caller projects its own graph onto (a, b) edges over one orderable id
domain; the component id is the smallest node of the component.

Two physical strategies, same result:

  * at most _DRIVER_MAX_EDGES distinct edges: collect the ids to the
    driver and resolve them with a union-find — one job, no iterative
    shuffles. Building and near-dup graphs are sparse (≈1-3 edges per
    node), and per-round join+agg+count latency dominates at that size;
  * above it: distributed min-label propagation over the symmetrized
    edges (ids only — no payload rides the iteration; rounds ≈ the
    component's radius around its minimum). It RAISES when it does not
    converge within max_iter rounds: an unconverged labelling splits
    real components, and every caller would then silently run its
    kernel on partial groups.

Geometry's in-kernel union-find (geopasses.connected_groups) is not this
primitive: it must follow the reference's insertion order.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type

# distinct edges resolved on the driver; ids only, ~60 MB collected
_DRIVER_MAX_EDGES = 1_000_000


def components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """(node, component) over the undirected graph of `edges`' (a, b)
    columns. Edges with a NULL end are dropped; a self-loop (a == b)
    registers its node. component = smallest node of the component.

    The result is driver-built or localCheckpointed, so it is already
    materialized (counting it is cheap) and leaves no persisted blocks
    behind."""
    e = (
        edges.select("a", "b")
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
        .persist()
    )
    node_t = e.schema["a"].dataType
    if e.count() <= _DRIVER_MAX_EDGES:
        rows = e.collect()
        e.unpersist()
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for a, b in rows:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # the smaller root wins, so every root is its component's min
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        # one Arrow table, deserialized JVM-side: the createDataFrame(list)
        # route unpickles in Python workers on every action over the result
        arrow_t = to_arrow_type(node_t)
        return edges.sparkSession.createDataFrame(
            pa.table(
                {
                    "node": pa.array(list(parent), arrow_t),
                    "component": pa.array([find(v) for v in parent], arrow_t),
                }
            )
        )

    sym = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist()
    )
    try:
        labels = (
            sym.select(F.col("a").alias("node")).distinct()
            .withColumn("component", F.col("node"))
        )
        for _ in range(max_iter):
            # each generation is checkpointed: the next round reads the
            # labels twice, so keeping the lineage would double the plan
            # every round
            labels = (
                sym.join(labels.withColumnRenamed("node", "b"), "b")
                .groupBy("a")
                .agg(F.min("component").alias("__nbr"))
                .join(labels.withColumnRenamed("node", "a"), "a")
                .select(
                    F.col("a").alias("node"),
                    F.least("component", "__nbr").alias("component"),
                    (F.col("__nbr") < F.col("component")).alias("__moved"),
                )
                .localCheckpoint(eager=True)
            )
            if labels.filter("__moved").isEmpty():
                return labels.drop("__moved")
        raise RuntimeError(
            f"components: min-label propagation did not converge in "
            f"{max_iter} rounds (a component spans {max_iter} or more hops "
            f"from its smallest node); re-run with a larger max_iter"
        )
    finally:
        sym.unpersist()
        e.unpersist()

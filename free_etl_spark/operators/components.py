"""Distributed connected components via min-label propagation — the
clustering step of a dedup pipeline (near-dup *pairs* → duplicate
*groups* → one canonical doc per group).

Each node starts labeled with itself; every iteration each node takes
the minimum label among itself and its neighbors; converged when no
label changes. Iteration count is the graph diameter (near-dup graphs
are shallow — dozens of iterations at most), and each iteration is one
join + one aggregate, all shuffles keyed on node id. Each iteration
runs one Spark action, the eager checkpoint of the new labels; the
driver-side loop reads a single convergence scalar per iteration from
an ``Observation`` on that checkpoint job — the data never leaves the
cluster, which is what keeps this shape valid at 100 TB (this is the
standard label-propagation construction, cf. GraphFrames/Pregel-style
iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Return (``node_col``, component) where component is the minimum
    node id reachable from the node (nodes absent from ``edges`` form
    singleton components).
    """
    # edges may sit on an expensive lineage (e.g. the whole near-dup
    # pair pipeline) — checkpoint the symmetrized edge list ONCE so the
    # per-iteration join re-reads materialized edges instead of
    # re-running the upstream pipeline every round
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .union(edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # not checkpointed: the first round's checkpoint materializes the
    # labels, and the callers' nodes are a lake read or a small
    # aggregate, cheaper to re-read in round one than a job of its own
    labels = nodes.select(F.col(node_col).alias("a"), F.col(node_col).alias("label"))

    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels.withColumnRenamed("a", "b2"), sym.b == F.col("b2"))
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        nbr = F.coalesce("nbr_label", F.col("label"))
        # truncate lineage each round (iterative plans grow exponentially
        # otherwise); the did-anything-change flag rides on the same job
        # as an observed aggregate instead of a second action
        obs = Observation()
        labels = (
            labels.join(neighbor_min, "a", "left")
            .observe(obs, F.max((nbr < F.col("label")).cast("int")).alias("chg"))
            .select("a", F.least(F.col("label"), nbr).alias("label"))
            .localCheckpoint(eager=True)
        )
        if not obs.get["chg"]:
            break

    return labels.select(F.col("a").alias(node_col), F.col("label").alias("component"))

"""Duplicate-cluster resolution: connected components over candidate
pairs (the step after MinHash/SimHash/embedding near-dup that turns
pairs into keep/drop decisions for a 100 TB corpus).

Algorithm: iterative minimum-label propagation — each node holds the
smallest id it has seen; every round propagates labels across edges
until a fixpoint, with pointer doubling so chains collapse in
O(log diameter) rounds. Every round is DataFrame joins + aggregation;
no .collect() on the edge set, convergence is a scalar aggregate.

Scale notes:
- The symmetric edge list is built with ONE pass over ``pairs`` (an
  explode of both directions), not a self-union — the candidate-pair
  plan upstream (shingle -> minhash -> band join) is usually the most
  expensive input here and must not execute twice.
- Iteration parallelism is right-sized to the materialized edge count:
  a near-dup graph is orders of magnitude smaller than the corpus, and
  running every round's shuffles at the
  corpus-sized session parallelism spends more time scheduling empty
  tasks than propagating labels. The heuristic never exceeds the
  session's configured parallelism, so cluster-scale sessions keep
  their width. Scoped set/restore of spark.sql.shuffle.partitions —
  not safe for concurrent queries on the same session (document-level
  caveat, same pattern as streaming/events._stream_tuning).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Edges per shuffle partition in the propagation loop. 2M edge rows
#: (~32 MB of (long,long)) per task keeps tasks meaty without spilling.
_EDGES_PER_PARTITION = 2_000_000

#: Below this many (symmetric) edges the component graph is solved in
#: ONE single-task pass (union-find inside mapInPandas) instead of
#: 4-6 iterative rounds of 2 jobs each. Same decision shape as AQE's
#: broadcast threshold: a near-dup graph is orders of magnitude smaller
#: than its corpus, and 5M edges (~80 MB) is trivially one task's work;
#: past it, the label-propagation loop runs. The fast path is still a
#: Spark job over the checkpointed edge blocks — not a driver collect.
_LOCAL_SOLVE_EDGES = 5_000_000


def _solve_single_task(edges: DataFrame) -> DataFrame:
    """Exact components of a subcritical edge set: coalesce to one
    partition, run path-compressed union-find across the partition's
    Arrow batches, emit (id, cluster_id=min id in component)."""
    import pandas as pd

    id_type = edges.schema["src"].dataType.simpleString()

    def uf(batches):
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for s, d in zip(pdf["src"], pdf["dst"]):
                rs, rd = find(s), find(d)
                if rs != rd:
                    # union by label order keeps the min id the root
                    lo, hi = (rs, rd) if rs < rd else (rd, rs)
                    parent[hi] = lo
        ids = list(parent)
        yield pd.DataFrame({"id": ids, "cluster_id": [find(i) for i in ids]})

    return edges.coalesce(1).mapInPandas(
        uf, schema=f"id {id_type}, cluster_id {id_type}"
    )


def dedup_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    local_solve_edges: int = _LOCAL_SOLVE_EDGES,
) -> DataFrame:
    """(id, cluster_id) with cluster_id = min node id reachable through
    the undirected pair graph. ``nodes``: a column ``id``;
    ``pairs``: columns (id_a, id_b)."""
    spark = nodes.sparkSession
    # both directions in one pass over pairs: the pairs subtree (often a
    # full MinHash/LSH pipeline) executes exactly once
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                    F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint(eager=True)
    )

    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    n_edges = edges.count()  # cheap: counts the checkpointed blocks
    if n_edges <= local_solve_edges:
        # subcritical graph: one single-task union-find job instead of
        # an iterative loop; components of nodes outside any pair stay
        # themselves (left join -> coalesce)
        comp = _solve_single_task(edges)
        return nodes.select("id").join(comp, "id", "left").select(
            "id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")
        )
    loop_partitions = max(
        1, min(int(old_parts), math.ceil(n_edges / _EDGES_PER_PARTITION))
    )
    labels = nodes.select("id", F.col("id").alias("cluster_id"))
    prev_sum = None

    spark.conf.set("spark.sql.shuffle.partitions", str(loop_partitions))
    try:
        for _ in range(64):
            # push each node's label to its neighbors, keep the minimum
            pushed = edges.join(labels, edges["src"] == labels["id"]).select(
                F.col("dst").alias("id"), F.col("cluster_id")
            )
            merged = (
                labels.unionByName(pushed)
                .groupBy("id")
                .agg(F.min("cluster_id").alias("cluster_id"))
            )
            # pointer doubling: follow the label's own label, so chains
            # collapse in O(log diameter) rounds instead of O(diameter)
            parent = merged.select(
                F.col("id").alias("_pid"), F.col("cluster_id").alias("_plabel")
            )
            new_labels = (
                merged.join(parent, merged["cluster_id"] == F.col("_pid"), "left")
                .select(
                    "id",
                    F.least(
                        F.col("cluster_id"),
                        F.coalesce(F.col("_plabel"), F.col("cluster_id")),
                    ).alias("cluster_id"),
                )
                .localCheckpoint(eager=True)  # cut lineage per round
            )
            # labels only ever decrease, so an unchanged total IS the
            # fixpoint — one tiny scalar agg over checkpointed data
            # instead of a join-per-round change detector
            label_sum = new_labels.agg(F.sum("cluster_id")).collect()[0][0]
            if label_sum == prev_sum:
                return new_labels
            prev_sum = label_sum
            labels = new_labels
        return labels
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)

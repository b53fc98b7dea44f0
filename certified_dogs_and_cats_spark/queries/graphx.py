"""Graph-query registrations, covered by the local oracle gate
(``scripts/check_correctness.py``) and pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import t
from .registry import query


@query(
    "sssp_weighted_histogram",
    oracle="""
    WITH RECURSIVE d(node, dist) AS (
        SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
        UNION ALL
        SELECT c.c_custkey,
               least(d.dist + (c.c_custkey % 7) + 1,
                     CASE WHEN c.c_custkey % 100 = 0
                          THEN CAST(3 AS BIGINT)
                          ELSE CAST(9223372036854775807 AS BIGINT) END)
        FROM customer c JOIN d ON d.node = c.c_custkey // 2
        WHERE c.c_custkey >= 2
    )
    SELECT dist,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node
    FROM d GROUP BY dist ORDER BY dist
    """,
)
def sssp_weighted_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest-path distances (extensions/graph.py:
    sssp_distances, Bellman-Ford relaxation) on the DOWNWARD customer-key
    tree — edge k/2 -> k costs (k % 7) + 1 — plus express edges
    1 -> m (m % 100 == 0) costing 3, rolled up to nodes per distance.
    The express edges make the problem genuinely shortest-PATH (the
    relaxation must pick min(tree path, express shortcut) and propagate
    the winner downward); the ORACLE is an independent single-pass
    recursive descent — valid because edges point strictly down, so a
    node's final distance is min(parent's final + edge, own express) —
    not a replay of the relaxation rounds."""
    from ..extensions.graph import sssp_distances

    c = t(spark, sf_dir, "customer").select("c_custkey").filter(
        F.col("c_custkey") >= 1
    )
    child = c.filter(F.col("c_custkey") >= 2)
    tree = child.select(
        (F.col("c_custkey") / 2).cast("bigint").alias("src"),
        F.col("c_custkey").alias("dst"),
        ((F.col("c_custkey") % 7) + 1).cast("bigint").alias("weight"),
    )
    express = child.filter(F.col("c_custkey") % 100 == 0).select(
        F.lit(1).cast("bigint").alias("src"),
        F.col("c_custkey").alias("dst"),
        F.lit(3).cast("bigint").alias("weight"),
    )
    nodes = c.select(F.col("c_custkey").alias("node"))
    d = sssp_distances(
        nodes, tree.unionByName(express), source=1, max_rounds=24
    )
    return (
        d.groupBy("dist")
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("node").alias("min_node"),
        )
        .orderBy("dist")
    )

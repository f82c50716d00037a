"""Winner selection + cluster stats (SURVEY.md §2 B27/B28) — the reference's
deterministic keep-one-per-cluster, as a rank-1 window.

Order is pinned: (prefix depth asc, image_id asc) — shallower copies win,
ties broken lexicographically, exactly like the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dedup_spark.operators.signatures import depth_col


def select_winners(clusters: DataFrame) -> DataFrame:
    """clusters(image_id, cluster_id) → + (depth, is_winner, cluster_size)."""
    with_depth = clusters.withColumn("depth", depth_col("image_id"))
    w = Window.partitionBy("cluster_id").orderBy("depth", "image_id")
    ws = Window.partitionBy("cluster_id")
    return (
        with_depth.withColumn("rn", F.row_number().over(w))
        .withColumn("is_winner", F.col("rn") == 1)
        .withColumn("cluster_size", F.count("*").over(ws))
        .drop("rn")
    )

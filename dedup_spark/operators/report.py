"""Ordered duplicate-set report (SURVEY.md §2 B30–B32) — the reference's
explained delete listing, as a deterministic DataFrame.

Rows: per-image verdicts (winner / redundant / suppressed-by-dup-dir) plus
dir-level dup-group rows, stably ordered (cluster size desc, cluster_id,
image_id) via a range-partitioned total sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def image_report(winners_df: DataFrame, suppressed: DataFrame) -> DataFrame:
    """winners_df from operators.winners + suppressed(image_id) →
    (image_id, cluster_id, cluster_size, is_winner, action)."""
    sup = suppressed.withColumn("suppressed", F.lit(True))
    rep = winners_df.join(sup, "image_id", "left").withColumn(
        "action",
        F.when(F.col("suppressed").isNotNull(), F.lit("subsumed_by_dup_dir"))
        .when(F.col("cluster_size") == 1, F.lit("unique"))
        .when(F.col("is_winner"), F.lit("keep"))
        .otherwise(F.lit("delete")),
    )
    return rep.select(
        "image_id", "cluster_id", "cluster_size", "is_winner", "action"
    ).orderBy(F.desc("cluster_size"), "cluster_id", "image_id")


def dir_report(dup_dirs_df: DataFrame) -> DataFrame:
    """Dup prefix-groups with a deterministic winner (min dir path kept)."""
    w = dup_dirs_df.groupBy("dir_digest").agg(
        F.min("dir").alias("keep_dir"), F.count("*").alias("n_dirs")
    )
    return (
        dup_dirs_df.join(w, "dir_digest")
        .withColumn("is_winner", F.col("dir") == F.col("keep_dir"))
        .select("dir", "dir_digest", "level", "n_dirs", "is_winner")
        .orderBy(F.desc("n_dirs"), "dir_digest", "dir")
    )

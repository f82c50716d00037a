"""Exact duplicates via content-hash groupBy (SURVEY.md §2 B9/B23) —
the Spark analog of the reference's per-file digest walk + digest→entries map.

The digest is the ``sha256`` column of the signature table
(operators.signatures): sha256(bytes || 0x00 || utf8(caption)) for image rows,
sha256(utf8(caption)) for text rows; functions.hashing.content_digest is the
image digest's twin used by the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_clusters(sigs: DataFrame) -> DataFrame:
    """Digest groups with >1 member → (sha256, n_members, members capped).

    collect_list is capped by slice() at report time only; the groupBy itself
    is a plain partial+final hash aggregate (map-side combine on sha256).
    """
    return (
        sigs.groupBy("sha256")
        .agg(
            F.count("*").alias("n_members"),
            F.min("image_id").alias("root"),
        )
        .where(F.col("n_members") > 1)
    )


def exact_edges(sigs: DataFrame) -> DataFrame:
    """Star edges member→group-min for the CC stage (SURVEY.md B35).

    Star edges (not all O(k^2) pairs) keep the edge count linear in group
    size — at 10^12 rows a popular payload could have millions of copies.
    """
    groups = exact_clusters(sigs).select("sha256", "root")
    return (
        sigs.select("image_id", "sha256")
        .join(groups, "sha256")
        .where(F.col("image_id") != F.col("root"))
        .select(
            F.col("image_id").alias("a"),
            F.col("root").alias("b"),
            F.lit("exact").alias("family"),
        )
    )

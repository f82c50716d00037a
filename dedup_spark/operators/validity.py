"""Validity predicates (SURVEY.md §2 B7) — the reference's empty-file /
special-file handling, as pushdown-friendly built-in filters.

All predicates are plain-column expressions, so Catalyst pushes the cheap
ones (w > 0, h > 0) into the Parquet/Iceberg scan and prunes row groups
before a single payload byte is decoded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def expected_len_col() -> Column:
    """Expected payload length per codec (mirrors oracle_ref.expected_len)."""
    body = F.lit(3) * F.col("w") * F.col("h")
    ppm_header = (
        F.lit(9)
        + F.length(F.col("w").cast("string"))
        + F.length(F.col("h").cast("string"))
    )
    return (
        F.when(F.col("fmt").isin("rgb8", "qraw"), body)
        .when(F.col("fmt") == "ppm", body + ppm_header)
        .otherwise(F.lit(-1))
    )


def metadata_predicate() -> Column:
    """The subset of validity decidable WITHOUT touching ``bytes``.

    Evaluating the full predicate requires length(bytes) — a payload-column
    scan. Callers that must classify rows cheaply at corpus scale (the
    incremental reuse semi-join in plans.pipeline) use this: dimension /
    codec invalidation is caught from pruned metadata columns only; the
    payload-length check is left to the stages that read the payload anyway.
    """
    return (F.col("w") > 0) & (F.col("h") > 0) & (expected_len_col() >= 0)


def valid_predicate() -> Column:
    return (
        (F.col("w") > 0)
        & (F.col("h") > 0)
        & F.col("bytes").isNotNull()
        & (F.length(F.col("bytes")) == expected_len_col())
    )


def filter_valid(df: DataFrame) -> DataFrame:
    return df.where(valid_predicate())


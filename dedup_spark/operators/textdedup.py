"""Text-only dedup slice: the same engine over a (id, text) table —
captions without images (used for the driver's `documents` table and any
text corpus; SURVEY.md §3.4).

A thin binding of the shared chain (plans.pipeline.dedup_chain). Text rows go
through the image signature UDF with no pixel payload, so their phash is
NULL and the pHash family drops out of banding and verify by itself. Exact
digest edges are not added: the text digest covers only the raw text, so
they would merge identical caption-less texts that no family links.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup_spark.config import DEFAULT_CONFIG, PipelineConfig
from dedup_spark.operators import verify, winners
from dedup_spark.operators.signatures import compute_signatures
from dedup_spark.plans.pipeline import dedup_chain


def text_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """(id, text) → signature rows with a NULL phash."""
    return compute_signatures(
        df.select(
            F.col(id_col).cast("string").alias("image_id"),
            F.col(text_col).alias("caption"),
        ),
        cfg,
    )


def text_verify(
    pairs: DataFrame, sigs: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """The chain's verify step for text rows."""
    return verify.verify_pairs(pairs, sigs, cfg)


def text_dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """(id, text) → (image_id, cluster_id, depth, is_winner, cluster_size).

    The signature stage (the only Python/Arrow stage) is localCheckpoint'd:
    it is consumed 4× downstream (banding, both verify join sides, the CC
    singleton anti-join) and mapInPandas cannot column-prune, so without the
    barrier every action would re-run the UDF over the full input. The
    chain's intermediates are localCheckpoint'd too, where the full pipeline
    commits them to its StageStore. At cluster scale swap localCheckpoint for
    a reliable checkpoint dir or a stage table.
    """
    sigs = text_signatures(df, id_col, text_col, cfg).localCheckpoint()
    clusters = dedup_chain(
        sigs, cfg,
        lambda name, compute: compute().localCheckpoint(),
        lambda pairs: text_verify(pairs, sigs, cfg),
    )
    return winners.select_winners(clusters)

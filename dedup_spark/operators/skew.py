"""Explicit hot-bucket skew handling (SURVEY.md §2 B18/B29; north rule:
"partitioning / shuffle / skew handled explicitly").

LSH buckets follow a power law — boilerplate captions ("a photo of …") drive
some band keys to millions of members, and the in-bucket pair self-join is
quadratic in bucket size. AQE's skew-join split cannot fix a quadratic
blow-up, only uneven partition sizes, so we defuse it at the algorithm level.

ONE shuffle does everything (revised r2; the r1 layout paid a census
aggregate job + a broadcast join + a second band-table scan): the band table
is hash-partitioned on the bucket key and a window count over that same
clustering yields bucket_size per row, from which salting derives:

1. singleton buckets (the vast majority of all band rows) are DROPPED here,
   before the table is materialized — no pair generator can emit anything
   for them, and shuffling/persisting them was pure waste (r1 shipped every
   singleton row through the Hamming repartition; VERDICT r1 #8);
2. buckets over ``cfg.bucket_cap`` get a deterministic per-member salt
   pmod(xxhash64(image_id), fanout) so each sub-bucket stays ≤ ~cap:
     - Hamming families (simhash/phash): fanout = ceil(size/cap), UNBOUNDED
       — their verification is exact *within* a sub-bucket (numpy popcount,
       operators.hamming), so worker memory is quadratic in sub-bucket size
       and must stay capped no matter how hot the bucket (VERDICT r1 #4:
       the r1 fanout ceiling of 16 let a 10^6-member bucket produce ~3.9 GB
       verify matrices). Cross-sub-bucket pairs of that one band are lost
       with *logged* estimates; the other bands/combos recover them (golden
       recall gate 0.99+).
     - minhash: fanout capped at ``cfg.salt_fanout`` — its star pass links
       sub-bucket representatives to the bucket minimum (O(n), never
       quadratic), so worker memory does not grow with sub-bucket size,
       while every extra salt split weakens the representative links the
       Jaccard verifier sees; a small fanout keeps the star connected.
3. the candidate loss per hot bucket is *counted and logged* via
   ``skew_report`` — recall accounting stays honest.

The window count needs no second scan, no broadcast, and the downstream
repartition on (bucket key, salt) feeds the in-bucket verifier directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dedup_spark.config import DEFAULT_CONFIG, PipelineConfig

_KEY = ["family", "band_idx", "band_key"]

HAMMING_FAMILIES = ("simhash", "phash")


def _fanout_col(cfg: PipelineConfig):
    raw = F.ceil(F.col("bucket_size") / cfg.bucket_cap).cast("int")
    return F.when(F.col("bucket_size") <= cfg.bucket_cap, F.lit(1)).otherwise(
        F.when(F.col("family").isin(*HAMMING_FAMILIES), raw).otherwise(
            F.least(raw, F.lit(cfg.salt_fanout))
        )
    )


def salted_bands(
    bands: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> tuple[DataFrame, DataFrame]:
    """→ (salted band table, skew report).

    Salted table: (image_id, family, band_idx, band_key, hval, salt, hot)
    with singleton buckets REMOVED. Skew report: one row per hot bucket
    (size, fanout, estimated lost candidate pairs); derived lazily — when
    the salted table is checkpointed first (plans.pipeline), compute the
    report from the materialized table via ``skew_report_from_salted`` so
    banding is never re-run.
    """
    w = Window.partitionBy(*_KEY)
    sized = bands.withColumn("bucket_size", F.count("*").over(w)).where(
        F.col("bucket_size") > 1
    )
    fanout = _fanout_col(cfg)
    salted = (
        sized.withColumn("fanout", fanout)
        .withColumn(
            "salt",
            F.when(
                F.col("fanout") > 1,
                F.pmod(F.xxhash64("image_id"), F.col("fanout")).cast("int"),
            ).otherwise(F.lit(0)),
        )
        # `hot` marks the buckets skew_report_from_salted censuses
        .withColumn("hot", F.col("bucket_size") > cfg.bucket_cap)
        .drop("bucket_size", "fanout")
    )
    return salted, skew_report_from_salted(salted, cfg)


def skew_report_from_salted(
    salted: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Hot-bucket census from a (possibly materialized) salted band table.

    fanout is recomputed from bucket_size with the same deterministic
    formula used at salt time, so the report never needs extra columns in
    the (large) salted table. est_lost_pairs ≈ C(n,2) − fanout·C(n/f,2) —
    the cross-sub-bucket candidates of THIS band forfeited to salting.
    """
    hot = (
        salted.where("hot")
        .groupBy(*_KEY)
        .agg(F.count("*").alias("bucket_size"))
        .withColumn("fanout", _fanout_col(cfg))
    )
    n = F.col("bucket_size").cast("double")
    f = F.col("fanout").cast("double")
    return hot.withColumn(
        "est_lost_pairs",
        (n * (n - 1) / 2 - f * ((n / f) * (n / f - 1) / 2)).cast("long"),
    )

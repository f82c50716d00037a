"""Exact verification of candidate pairs (SURVEY.md §2 B15/B36).

One lazy plan: the candidate pairs join the signature table once per side,
each side carrying sha256, the shingle set, simhash and pHash, and one
projection derives every family's flag — a JVM built-in expression each, NO
Python in this stage:

  jaccard     exact shingle-set Jaccard via array_intersect/size (the shingle
              arrays are distinct-valued by construction) for EVERY pair —
              no simhash slack gate skips the array join; 0.0 unless both
              rows have shingles
  hamming_sim bit_count(simhash_a ^ simhash_b)   (guarded: both captioned)
  hamming_ph  bit_count(phash_a ^ phash_b)     (NULL when a side has no
              pHash — a text row: the family is absent, f_phash is false)
  exact       sha256 equality

verified = any family passes its pinned threshold; the per-family booleans
are kept so the report can attribute why a pair clustered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup_spark.config import DEFAULT_CONFIG, PipelineConfig

_SIDE = {"sha256": "sha", "n_shingles": "ns", "shingles": "sh",
         "simhash": "sim", "phash": "ph"}


def _side(sigs: DataFrame, s: str) -> DataFrame:
    """The signature columns verify reads, suffixed with the pair side."""
    return sigs.select(
        F.col("image_id").alias(s),
        *[F.col(c).alias(f"{p}_{s}") for c, p in _SIDE.items()],
    )


def verify_pairs(
    pairs: DataFrame,
    sigs: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Candidate pairs (a, b) → every family's verdict, in one join pass.

    Every pair ships both shingle arrays (~0.5 KB a row against ~30 B of
    fixed-width signals). Gating the array join on simhash distance does
    not pay: on the minhash star candidates the chain verifies, a +5 sd
    gate (24 bits) skipped no pair at 6k, 24k or 100k rows, while its
    checkpoint, count and re-join cost Spark jobs on the critical path.
    """
    both_captioned = (F.col("ns_a") > 0) & (F.col("ns_b") > 0)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.col("ns_a") + F.col("ns_b") - inter
    signals = pairs.join(_side(sigs, "a"), "a").join(_side(sigs, "b"), "b").select(
        "a", "b",
        F.when(both_captioned, inter.cast("double") / union.cast("double"))
        .otherwise(F.lit(0.0)).alias("jaccard"),
        F.bit_count(F.expr("sim_a ^ sim_b")).cast("int").alias("hamming_sim"),
        F.bit_count(F.expr("ph_a ^ ph_b")).cast("int").alias("hamming_ph"),
        (F.col("sha_a") == F.col("sha_b")).alias("f_exact"),
        both_captioned.alias("both_captioned"),
    )
    captioned = F.col("both_captioned")
    out = signals.select(
        "a", "b", "jaccard", "hamming_sim", "hamming_ph", "f_exact",
        (captioned & (F.col("jaccard") >= F.lit(cfg.jaccard_threshold)))
        .alias("f_minhash"),
        (captioned & (F.col("hamming_sim") <= F.lit(cfg.simhash_hamming_max)))
        .alias("f_simhash"),
        F.coalesce(
            F.col("hamming_ph") <= F.lit(cfg.phash_hamming_max), F.lit(False)
        ).alias("f_phash"),
    )
    return out.withColumn(
        "verified",
        F.col("f_exact") | F.col("f_minhash") | F.col("f_simhash") | F.col("f_phash"),
    )


def verified_edges(verified: DataFrame) -> DataFrame:
    return verified.where("verified").select("a", "b")


def rescue_verify_pairs(
    pairs: DataFrame, sigs: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """The orphan-rescue candidates through the same verify as round one,
    projected to the (a, b, verified) the edge union consumes."""
    return verify_pairs(pairs, sigs, cfg).select("a", "b", "verified")

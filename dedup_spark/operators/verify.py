"""Exact verification of candidate pairs (SURVEY.md §2 B15/B36).

Two equi-joins attach each side's signatures, then every check is a JVM
built-in expression — NO Python in this stage:

  jaccard     exact shingle-set Jaccard via array_intersect/size (the shingle
              arrays are distinct-valued by construction)
  hamming_sim bit_count(simhash_a ^ simhash_b)   (guarded: both captioned)
  hamming_ph  bit_count(phash_a ^ phash_b)     (NULL when a side has no
              pHash — a text row: the family is absent, f_phash is false)
  exact       sha256 equality

verified = any family passes its pinned threshold; the per-family booleans
are kept so the report can attribute why a pair clustered.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup_spark.config import DEFAULT_CONFIG, PipelineConfig

log = logging.getLogger(__name__)


def verify_pairs(
    pairs: DataFrame,
    sigs: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    simhash_slack: int = 24,
    census: dict | None = None,
) -> DataFrame:
    """Two-phase (r2): the shingle ARRAYS are the fat column of the sigs
    table (~0.5 KB/row vs ~30 B of fixed-width signals), and shipping them
    through both sides of the candidate join made this stage's shuffle
    GC-bound and run-to-run unstable (measured 4s–44s for identical input).
    Phase 1 joins only fixed-width columns and decides exact/simhash/phash;
    phase 2 joins the arrays ONLY for pairs whose simhash distance makes
    J >= threshold statistically possible (E[d] ≈ 10, sd ≈ 3 at J = 0.8;
    ``simhash_slack`` = +5 sd).
    Implausible pairs report jaccard 0.0 (they cannot pass the threshold);
    all family decisions are unchanged.

    The slack gate is an approximation (simhash is a random projection: a
    true J >= threshold pair with an atypical shingle count can land beyond
    +5 sd), so its skip count is CENSUSED — one cheap count over the
    checkpointed phase-1 frame, recorded like the salting loss census
    (operators.skew) — rather than silently assumed negligible (ADVICE r2).
    The census covers only the pairs passed in: in the chain those are the
    minhash star candidates (containment pairs are linked edges and never
    reach this verify).
    """
    slim = sigs.select("image_id", "sha256", "n_shingles", "simhash", "phash")
    sa = slim.select(
        F.col("image_id").alias("a"), F.col("sha256").alias("sha_a"),
        F.col("n_shingles").alias("ns_a"), F.col("simhash").alias("sim_a"),
        F.col("phash").alias("ph_a"),
    )
    sb = slim.select(
        F.col("image_id").alias("b"), F.col("sha256").alias("sha_b"),
        F.col("n_shingles").alias("ns_b"), F.col("simhash").alias("sim_b"),
        F.col("phash").alias("ph_b"),
    )
    both_captioned = (F.col("ns_a") > 0) & (F.col("ns_b") > 0)
    cheap = (
        pairs.join(sa, "a").join(sb, "b")
        .withColumn("hamming_sim", F.bit_count(F.expr("sim_a ^ sim_b")).cast("int"))
        .withColumn("hamming_ph", F.bit_count(F.expr("ph_a ^ ph_b")).cast("int"))
        .withColumn("f_exact", F.col("sha_a") == F.col("sha_b"))
        .withColumn("both_captioned", both_captioned)
        .select(
            "a", "b", "hamming_sim", "hamming_ph", "f_exact", "both_captioned"
        )
        .localCheckpoint()  # consumed twice: plausible filter + final join
    )

    n_slack_skipped = cheap.where(
        F.col("both_captioned") & (F.col("hamming_sim") > simhash_slack)
    ).count()
    if census is not None:
        # out-param so the pipeline can persist the census in the stage
        # manifest (VERDICT r3 #5: logs die with the driver; manifests stay)
        census["slack_skips"] = int(n_slack_skipped)
    if n_slack_skipped:
        log.warning(
            "verify slack gate: %d captioned pairs skipped Jaccard verify "
            "(simhash distance > %d); their jaccard reports 0.0",
            n_slack_skipped, simhash_slack,
        )

    maybe = cheap.where(
        F.col("both_captioned") & (F.col("hamming_sim") <= simhash_slack)
    ).select("a", "b")
    aa = sigs.select(
        F.col("image_id").alias("a"), F.col("shingles").alias("sh_a"),
        F.col("n_shingles").alias("ns_a"),
    )
    ab = sigs.select(
        F.col("image_id").alias("b"), F.col("shingles").alias("sh_b"),
        F.col("n_shingles").alias("ns_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.col("ns_a") + F.col("ns_b") - inter
    jac = F.when(
        union > 0, inter.cast("double") / union.cast("double")
    ).otherwise(F.lit(0.0))
    jaccards = (
        maybe.join(aa, "a").join(ab, "b").select("a", "b", jac.alias("jaccard"))
    )

    out = (
        cheap.join(jaccards, ["a", "b"], "left")
        .withColumn("jaccard", F.coalesce("jaccard", F.lit(0.0)))
        .withColumn(
            "f_minhash",
            F.col("both_captioned")
            & (F.col("jaccard") >= F.lit(cfg.jaccard_threshold)),
        )
        .withColumn(
            "f_simhash",
            F.col("both_captioned")
            & (F.col("hamming_sim") <= F.lit(cfg.simhash_hamming_max)),
        )
        .withColumn(
            "f_phash",
            F.coalesce(
                F.col("hamming_ph") <= F.lit(cfg.phash_hamming_max), F.lit(False)
            ),
        )
    )
    out = out.withColumn(
        "verified",
        F.col("f_exact") | F.col("f_minhash") | F.col("f_simhash") | F.col("f_phash"),
    )
    return out.select(
        "a", "b", "jaccard", "hamming_sim", "hamming_ph",
        "f_exact", "f_minhash", "f_simhash", "f_phash", "verified",
    )


def verified_edges(verified: DataFrame) -> DataFrame:
    return verified.where("verified").select("a", "b")


def rescue_verify_pairs(
    pairs: DataFrame, sigs: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """The orphan-rescue candidates through the same verify as round one,
    projected to the (a, b, verified) the edge union consumes."""
    return verify_pairs(pairs, sigs, cfg).select("a", "b", "verified")

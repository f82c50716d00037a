"""LSH banding → long-format band table (SURVEY.md §2 B14/B16/B17).

Output: (image_id, family, band_idx, band_key) with families
  minhash : posexplode of the precomputed 16 band keys (zero-shingle rows
            are excluded — the empty-signature sentinel must not bucket)
  simhash : 4 x 16-bit slices via built-in shiftrightunsigned/and (codegen'd)
  phash   : 2-of-8 band COMBINATIONS — C(8,2)=28 16-bit keys per row, each
            the concatenation of two 8-bit slices (NULL-phash text rows are
            excluded — they have no pixel family)

Why combos for phash: single 8-bit slices give only 256 distinct buckets, so
at any realistic corpus size every row collides with n/256 strangers — the
buckets carry no signal, candidate generation degenerates, and the orphan
rescue pass (operators.pairs) drowns in garbage. The pigeonhole guarantee
survives the combo transform: Hamming(a, b) <= phash_hamming_max (6) can
corrupt at most 6 of the 8 bands, leaving >= 2 intact bands, hence at least
one intact PAIR — so every true near-dup still shares >= 1 combo key, while
random collisions drop by 2^8. (Generally: r-combos of B bands guarantee
recall iff hamming_max <= B - r; selectivity grows with r at C(B, r) keys.
At larger corpus scale raise selectivity by raising r — e.g. 3-of-9 — not by
thinning bands, or the guarantee silently breaks.)

The long format makes candidate generation one shuffle keyed on
(family, band_idx, band_key) — the unit the skew census (operators.skew)
salts and the star pass (operators.pairs) groups on.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup_spark.config import DEFAULT_CONFIG, PipelineConfig


def _slices(col: str, bands: int, band_bits: int) -> list:
    mask = (1 << band_bits) - 1
    return [
        F.shiftrightunsigned(F.col(col), j * band_bits).bitwiseAND(F.lit(mask))
        for j in range(bands)
    ]


def _hamming_bands_df(
    sigs: DataFrame, col: str, family: str, bands: int, band_bits: int
) -> DataFrame:
    keys = F.array(*_slices(col, bands, band_bits))
    return sigs.select(
        "image_id", F.col(col).alias("hval"),
        F.posexplode(keys).alias("band_idx", "band_key"),
    ).select(
        "image_id", F.lit(family).alias("family"), "band_idx", "band_key", "hval"
    )


def _combo_bands_df(
    sigs: DataFrame, col: str, family: str, bands: int, band_bits: int, r: int
) -> DataFrame:
    """r-combination Hamming bands: one key per r-subset of band slices."""
    sl = _slices(col, bands, band_bits)
    keys = []
    for combo in combinations(range(bands), r):
        k = sl[combo[0]]
        for j in combo[1:]:
            k = F.shiftleft(k, band_bits).bitwiseOR(sl[j])
        keys.append(k)
    return sigs.select(
        "image_id", F.col(col).alias("hval"),
        F.posexplode(F.array(*keys)).alias("band_idx", "band_key"),
    ).select(
        "image_id", F.lit(family).alias("family"), "band_idx", "band_key", "hval"
    )


def band_table(sigs: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Long-format band table. Hamming-family rows CARRY the full 64-bit hash
    (``hval``) so the in-bucket exact verifier (operators.hamming) needs no
    join back to signatures; minhash rows set it null (their verification is
    Jaccard over shingle sets, which stays in operators.verify)."""
    # hard error, not assert: this recall invariant must survive python -O
    if cfg.phash_hamming_max > cfg.phash_bands - cfg.phash_combo_r:
        raise ValueError(
            "phash combo banding would lose the pigeonhole recall guarantee:"
            f" hamming_max={cfg.phash_hamming_max} >"
            f" bands-r={cfg.phash_bands - cfg.phash_combo_r}"
        )
    with_caption = sigs.where(F.col("n_shingles") > 0)
    mh = with_caption.select(
        "image_id", F.posexplode("minhash_bands").alias("band_idx", "band_key")
    ).select(
        "image_id", F.lit("minhash").alias("family"), "band_idx", "band_key",
        F.lit(None).cast("long").alias("hval"),
    )
    sim = _hamming_bands_df(
        with_caption, "simhash", "simhash", cfg.simhash_bands, cfg.simhash_band_bits
    )
    ph = _combo_bands_df(
        sigs.where(F.col("phash").isNotNull()), "phash", "phash",
        cfg.phash_bands, cfg.phash_band_bits, cfg.phash_combo_r,
    )
    return mh.unionByName(sim).unionByName(ph)

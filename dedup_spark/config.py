"""Pinned pipeline configuration + config fingerprint (SURVEY.md §2 B39).

The "same shingle/signature config" obligation (BASELINE.json:14) is carried by
this dataclass: the golden oracle (dedup_spark.oracle_ref), the Spark pipeline,
and the pytest fixtures all read the SAME instance, and resume safety is keyed
on ``fingerprint()`` so a stage checkpointed under one config is never reused
under another.

Values are pinned in FIXTURES.md §"Pinned config".
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    # --- caption shingling / MinHash ---
    shingle_k: int = 3                 # word k-grams of caption_norm
    minhash_perms: int = 128           # P permutations
    minhash_seed: int = 97             # seeds the (a, b) permutation params
    minhash_bands: int = 16            # 16 bands x 8 rows = 128
    minhash_rows: int = 8
    jaccard_threshold: float = 0.8     # exact shingle-set Jaccard verify

    # --- SimHash (64-bit over the same shingle stream) ---
    simhash_bands: int = 4             # 4 bands x 16 bits
    simhash_band_bits: int = 16
    simhash_hamming_max: int = 8       # verify threshold

    # --- pHash (64-bit DCT hash over decoded pixels) ---
    phash_bands: int = 8               # 8 bands x 8 bits
    phash_band_bits: int = 8
    phash_combo_r: int = 2             # bucket on r-combos of bands (C(8,2)=28
                                       # 16-bit keys; guarantee needs
                                       # hamming_max <= bands - r)
    phash_hamming_max: int = 6         # verify threshold
    phash_size: int = 32               # luma resized to 32x32 before DCT
    phash_block: int = 8               # top-left 8x8 DCT block (ex-DC)

    # --- suffix-array caption containment ---
    # Gram index uses winnowing/minimizers: holders emit only window-minimum
    # gram hashes (≈ 2/(w+1) of all grams), a pattern's anchor is its global
    # minimum gram; if A ⊆ B and A has ≥ w grams, some window of B lying
    # fully inside A has A's global min as ITS min, so B emits it — exact
    # recall for contained captions of ≥ gram_q + window − 1 chars.
    suffix_min_len: int = 32           # min contained length (chars); must be
                                       # ≥ suffix_gram_q + suffix_window − 1
    suffix_gram_q: int = 24            # gram size (bytes of caption_norm)
    suffix_window: int = 9            # winnowing window (in grams)

    # --- LSH skew handling ---
    bucket_cap: int = 64               # members before salting kicks in
    salt_fanout: int = 16

    # --- invariants ---
    psnr_min_db: float = 40.0          # lossy decode invariant (BASELINE.json:15)

    # --- winner selection: (prefix depth asc, image_id asc) ---
    winner_order: tuple = field(default=("depth", "image_id"))

    def fingerprint(self) -> str:
        """sha256 of the canonical JSON of this config (resume safety key)."""
        d = asdict(self)
        d["winner_order"] = list(d["winner_order"])
        blob = json.dumps(d, sort_keys=True, separators=(",", ":"))
        return hashlib.sha256(blob.encode("utf-8")).hexdigest()


DEFAULT_CONFIG = PipelineConfig()

# Mersenne prime for the MinHash universal hash family (a*x + b) mod p.
MERSENNE_P61 = (1 << 61) - 1

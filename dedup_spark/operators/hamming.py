"""Exact in-bucket Hamming verification for the simhash/phash LSH families
(SURVEY.md §2 B15/B36, revised — see SURVEY.md §8).

For a Hamming family the *verification predicate itself* (bit_count(x^y) <=
threshold) needs only the two 64-bit hashes, so generating candidate pair
ROWS and shuffling them to a join is pure overhead. Instead, each salted band
bucket is verified in-worker: a vectorized numpy popcount over the bucket
members' hashes, then in-bucket connected components, emitting one edge
from each non-root member to its component root. Compared to
star-candidates + join-verify + orphan-rescue this

- is EXACT within a bucket (no representative weak-link loss at all — the
  failure mode that forced the rescue pass for these families);
- emits O(true matches) rows instead of O(bucket membership) candidates;
- costs Σ m(m-1)/2 pair tests per band with m bounded by the salting:
  Hamming families salt with UNBOUNDED fanout = ceil(size/cap)
  (operators.skew), so sub-buckets stay ≈ cap regardless of how hot the
  bucket is. A sub-bucket above ``_SUBBUCKET_MAX`` members means that
  salting invariant broke, and raises.

One kernel (``_root_edges``) handles a whole batch of sub-buckets at once:
every in-sub-bucket pair is listed by segment arithmetic, all pairs get one
table popcount, and one min-label propagation runs over the matched pairs
of all sub-buckets. Most sub-buckets are random 2-member collisions, so a
Python call per sub-bucket would cost more than its popcounts.

Residual recall trade-off: a true pair inside a HOT bucket whose two rows
land in different salt sub-buckets loses that bucket; recovery relies on the
other bands/combos (28 for phash) and, for dense true clusters, on the
transitive closure — asserted by the golden gate.

A root edge may join two members whose direct distance exceeds the family
threshold: intermediate members connect them. Its ``hamming`` column then
reads above the threshold; cluster output is the same.

Batching is session.map_in_groups on the bucket key, as in
operators.containment: one mapInPandas whose batches carry many complete
buckets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from dedup_spark.config import DEFAULT_CONFIG, PipelineConfig
from dedup_spark.functions.hashing import popcount64
from dedup_spark.session import map_in_groups

_KEY = ["family", "band_idx", "band_key", "salt"]

PAIRS_SCHEMA = StructType(
    [
        StructField("a", StringType(), False),
        StructField("b", StringType(), False),
        StructField("family", StringType(), False),
        StructField("hamming", IntegerType(), False),
    ]
)

# bounds a batch's pair list, Σ m(m-1)/2 over its sub-buckets; Hamming
# salting keeps sub-buckets near bucket_cap (64), 32× under this
_SUBBUCKET_MAX = 2048


def _root_edges(pdf: pd.DataFrame, thresholds: dict[str, int]) -> pd.DataFrame:
    """Batch of salted rows, sorted on ``_KEY`` → one (root, member, family,
    hamming) row per non-root member of each sub-bucket's threshold graph.

    The root is the smallest ``image_id`` of the member's component within
    its sub-bucket. A dense true cluster of m members costs m-1 rows
    instead of ~m²/2 — the downstream global CC only needs connectivity,
    and the transitive closure it takes is identical. (One image appears at
    most once per sub-bucket by construction.)
    """
    n = len(pdf)
    fam = pdf["family"].to_numpy()
    newg = np.arange(n) == 0
    for k in _KEY:
        col = pdf[k].to_numpy()
        newg[1:] |= col[1:] != col[:-1]
    starts = np.flatnonzero(newg)
    sizes = np.diff(np.r_[starts, n])
    if n and sizes.max() > _SUBBUCKET_MAX:
        big = starts[sizes.argmax()]
        raise ValueError(
            f"{fam[big]} sub-bucket of {sizes.max()} members exceeds "
            f"{_SUBBUCKET_MAX}: Hamming salting (operators.skew) must keep "
            "sub-buckets near bucket_cap"
        )
    # rows by (sub-bucket, image_id): a sub-bucket's smallest id comes first
    order = np.lexsort(
        (pdf["image_id"].to_numpy().astype(str), np.cumsum(newg))
    )
    ids = pdf["image_id"].to_numpy()[order]
    hv = pdf["hval"].to_numpy().astype(np.uint64)[order]
    fam = fam[order]

    # every pair i < j inside a sub-bucket: the row of rank r in a sub-bucket
    # of m pairs with the m-1-r rows after it
    later = np.repeat(starts + sizes, sizes) - 1 - np.arange(n)
    i = np.repeat(np.arange(n), later)
    j = i + 1 + np.arange(len(i)) - np.repeat(np.cumsum(later) - later, later)
    thr = pd.Series(fam).map(thresholds).to_numpy()
    hit = popcount64(hv[i] ^ hv[j]) <= thr[i]
    i, j = i[hit], j[hit]

    # min-label propagation: hook each matched pair's larger root onto the
    # smaller, pointer-jump to roots, repeat until every pair shares one
    lab = np.arange(n)
    while True:
        lo = np.minimum(lab[i], lab[j])
        new = lab.copy()
        np.minimum.at(new, lab[i], lo)
        np.minimum.at(new, lab[j], lo)
        while not np.array_equal(new[new], new):
            new = new[new]
        if np.array_equal(new, lab):
            break
        lab = new
    b = np.flatnonzero(lab != np.arange(n))
    r = lab[b]
    return pd.DataFrame({
        "a": ids[r],
        "b": ids[b],
        "family": fam[b],
        "hamming": popcount64(hv[r] ^ hv[b]).astype(np.int32),
    })


def hamming_family_pairs(
    salted_bands: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """salted band rows (hamming families) → verified (a, b, family, hamming).

    Distinct over (a, b): a pair passing in several bands/families reports
    its smallest distance once.
    """
    thresholds = {
        "simhash": cfg.simhash_hamming_max,
        "phash": cfg.phash_hamming_max,
    }
    src = salted_bands.where(F.col("family").isin(sorted(thresholds))).select(
        *_KEY, "image_id", "hval"
    )
    pairs = map_in_groups(
        src, _KEY, lambda pdf: _root_edges(pdf, thresholds), PAIRS_SCHEMA
    )
    return (
        pairs.groupBy("a", "b")
        .agg(
            F.min_by("family", "hamming").alias("family"),
            F.min("hamming").cast("int").alias("hamming"),
        )
    )

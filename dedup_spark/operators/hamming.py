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
- costs Σ m² popcounts per band with m bounded by the salting: Hamming
  families salt with UNBOUNDED fanout = ceil(size/cap) (operators.skew), so
  sub-buckets stay ≈ cap regardless of how hot the bucket is — worker
  memory for the match matrix is O(cap²), a few KB. A sub-bucket above
  ``_MATRIX_MAX`` members means that salting invariant broke, and raises.

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

_POP = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(
    axis=1
).astype(np.uint16)

# the m×m match matrix is O(m²) worker memory; Hamming salting keeps
# sub-buckets near bucket_cap (64), 32× under this
_MATRIX_MAX = 2048


def _labels_matrix(hv: np.ndarray, thr: int) -> np.ndarray | None:
    """Exact component labels via a materialized m×m match matrix."""
    m = len(hv)
    M = np.zeros((m, m), dtype=bool)
    step = max(1, (1 << 20) // m)
    for lo in range(0, m, step):
        hi = min(lo + step, m)
        x = hv[lo:hi, None] ^ hv[None, :]
        bytes_ = x.view(np.uint8).reshape(hi - lo, m, 8)
        d = _POP[bytes_].sum(axis=2)
        M[lo:hi] = d <= thr
    np.fill_diagonal(M, False)
    if not M.any():
        return None
    labels = np.arange(m)
    big = np.int64(m)
    for _ in range(64):  # converges in <= graph diameter rounds
        nbr = np.where(M, labels[None, :], big).min(axis=1)
        new = np.minimum(labels, nbr)
        new = np.minimum(new, new[new])  # pointer-jump
        if np.array_equal(new, labels):
            break
        labels = new
    return labels


def _bucket_edges(ids: np.ndarray, hv: np.ndarray, thr: int,
                  out: dict, family: str) -> None:
    """Emit one edge per non-root member to its component root in the
    bucket's threshold graph.

    In-bucket connected components by vectorized min-label propagation;
    each non-root member emits one edge to its component root. A dense true
    cluster of m members costs m-1 emitted rows instead of ~m²/2 — the
    downstream global CC only needs connectivity, and the transitive
    closure it takes is identical. (A root edge may itself exceed thr —
    see module docstring.)
    """
    m = len(ids)
    if m < 2:
        return
    if m == 2:  # fast path: the overwhelmingly common random collision
        d = int(np.uint64(hv[0]) ^ np.uint64(hv[1])).bit_count()
        if d <= thr:
            a, b = (ids[0], ids[1]) if ids[0] < ids[1] else (ids[1], ids[0])
            out["a"].append(a)
            out["b"].append(b)
            out["family"].append(family)
            out["hamming"].append(d)
        return
    if m > _MATRIX_MAX:
        raise ValueError(
            f"{family} sub-bucket of {m} members exceeds {_MATRIX_MAX}: "
            "Hamming salting (operators.skew) must keep sub-buckets near "
            "bucket_cap"
        )
    order = np.argsort(ids)          # lexicographic root = deterministic
    ids = ids[order]
    hv = hv[order].astype(np.uint64)
    labels = _labels_matrix(hv, thr)
    if labels is None:
        return
    members = np.nonzero(labels != np.arange(m))[0]
    for i in members:
        r = int(labels[i])
        x = int(np.uint64(hv[r]) ^ np.uint64(hv[i]))
        d = bin(x).count("1")
        out["a"].append(ids[r])
        out["b"].append(ids[i])
        out["family"].append(family)
        out["hamming"].append(d)


def hamming_family_pairs(
    salted_bands: DataFrame,
    thresholds: dict[str, int] | None = None,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """salted band rows (hamming families) → verified (a, b, family, hamming).

    Distinct over (a, b): a pair passing in several bands/families reports
    its smallest distance once.
    """
    if thresholds is None:
        thresholds = {
            "simhash": cfg.simhash_hamming_max,
            "phash": cfg.phash_hamming_max,
        }
    fams = sorted(thresholds)
    src = salted_bands.where(F.col("family").isin(fams)).select(
        *_KEY, "image_id", "hval"
    )

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        # Millions of buckets are singletons or random 2-collisions; a pandas
        # groupby would pay frame-construction per bucket. The batch arrives
        # sorted on the bucket key, so detect runs vectorized and slice.
        # (One image appears at most once per bucket by construction.)
        out = {"a": [], "b": [], "family": [], "hamming": []}
        n = len(pdf)
        fam = pdf["family"].to_numpy()
        bi = pdf["band_idx"].to_numpy()
        bk = pdf["band_key"].to_numpy()
        st = pdf["salt"].to_numpy()
        newg = np.ones(n, dtype=bool)
        newg[1:] = (
            (fam[1:] != fam[:-1]) | (bi[1:] != bi[:-1])
            | (bk[1:] != bk[:-1]) | (st[1:] != st[:-1])
        )
        starts = np.nonzero(newg)[0]
        ends = np.r_[starts[1:], n]
        ids_all = pdf["image_id"].to_numpy()
        hv_all = pdf["hval"].to_numpy().astype(np.uint64)
        for s, e in zip(starts, ends):
            if e - s < 2:
                continue
            _bucket_edges(
                ids_all[s:e], hv_all[s:e], thresholds[fam[s]], out, fam[s]
            )
        return pd.DataFrame(out)

    pairs = map_in_groups(src, _KEY, emit, PAIRS_SCHEMA)
    return (
        pairs.groupBy("a", "b")
        .agg(
            F.min_by("family", "hamming").alias("family"),
            F.min("hamming").cast("int").alias("hamming"),
        )
    )

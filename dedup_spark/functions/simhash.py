"""SimHash-64 over the caption shingle stream (SURVEY.md §2 B12, B14).

Pinned (FIXTURES.md): 64-bit simhash of the same sha256-derived shingle ids
MinHash uses; banded as 4 x 16 bits for LSH; verify threshold Hamming ≤ 8.

``simhash_batch`` is batch-vectorized: the batch's shingles are flattened,
unpacked to a (total_shingles, 64) ±1 bit matrix once, and per-row bit sums
come from ``np.add.reduceat`` — no per-row Python loops over shingles.
"""

from __future__ import annotations

import numpy as np


def simhash_batch(shingle_lists: list[np.ndarray]) -> np.ndarray:
    """64-bit SimHash for a batch of uint64 shingle-id arrays → (n,) uint64.

    bit_j = 1 iff sum over shingles of (2*bit_j(h) - 1) > 0. Zero-shingle
    rows hash to 0.
    """
    n = len(shingle_lists)
    out = np.zeros(n, dtype=np.uint64)
    lengths = np.array([len(s) for s in shingle_lists], dtype=np.int64)
    total = int(lengths.sum())
    if total == 0:
        return out
    flat = np.concatenate([s for s in shingle_lists if len(s)]).astype(np.uint64)
    # (total, 64) of {-1, +1}, little-endian bit order (bit 0 = LSB)
    bits = np.unpackbits(
        flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
    ).astype(np.int32)
    bits = bits * 2 - 1
    nonempty = np.nonzero(lengths)[0]
    offsets = np.zeros(len(nonempty), dtype=np.int64)
    np.cumsum(lengths[nonempty][:-1], out=offsets[1:])
    sums = np.add.reduceat(bits, offsets, axis=0)  # (n_nonempty, 64)
    packed = np.packbits((sums > 0).astype(np.uint8), axis=1, bitorder="little")
    out[nonempty] = packed.view("<u8").ravel()
    return out


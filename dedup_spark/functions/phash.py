"""64-bit DCT perceptual hash over decoded pixels (SURVEY.md §2 B13).

Pinned (FIXTURES.md): luma (Rec.601 weights) → area-average resize to 32x32 →
orthonormal DCT-II (naive matmul; no scipy in the sandbox) → top-left 8x8
block, DC excluded → bit_i = coef_i > median(63 coefs), packed little-endian
into bits 0..62 (bit 63 = 0, so the value is always a valid non-negative
int64 for Spark LongType).

The DCT and resize weight matrices are precomputed once per (source size) and
cached — inside an Iterator pandas UDF this amortizes across all Arrow batches
of a partition (SURVEY.md §2 UDF table: "Iterator pandas UDF ... reuse DCT
matrix").
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from dedup_spark.functions.codecs import decode

_LUMA32 = np.array([0.299, 0.587, 0.114], dtype=np.float32)


@lru_cache(maxsize=None)
def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II matrix D (n x n): X = D @ x."""
    k = np.arange(n)[:, None].astype(np.float64)
    i = np.arange(n)[None, :].astype(np.float64)
    d = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    d[0, :] /= np.sqrt(2.0)
    return d


@lru_cache(maxsize=None)
def _resize_weights(src: int, dst: int) -> np.ndarray:
    """(dst x src) area-average (box) interpolation weights; rows sum to 1."""
    w = np.zeros((dst, src), dtype=np.float64)
    scale = src / dst
    for t in range(dst):
        lo, hi = t * scale, (t + 1) * scale
        s0, s1 = int(np.floor(lo)), int(np.ceil(hi))
        for s in range(s0, min(s1, src)):
            overlap = min(hi, s + 1) - max(lo, s)
            if overlap > 0:
                w[t, s] = overlap
        w[t, :] /= w[t, :].sum()
    return w


def phash_stack(stack: np.ndarray, size: int = 32, block: int = 8) -> np.ndarray:
    """Perceptual hashes of a (k, h, w, 3) uint8 stack → (k,) uint64 < 2^63.

    One batched matmul chain for the whole stack: luma → area resize → DCT-II
    → top-left block ex-DC → per-image median threshold → packed bits 0..62.
    """
    k, h, w, _ = stack.shape
    # full-resolution luma + area resize run in float32 — these touch the
    # big (k, h, w) temporaries and were the stage's memory-traffic hot
    # spot (measured 1.5x whole-kernel speedup, hashes bit-identical on the
    # synthetic corpus); the DCT + median threshold that DEFINE the hash
    # bits stay float64, so borderline coef-vs-median decisions keep full
    # precision on the (k, 32, 32) result of the resize
    luma = stack.astype(np.float32) @ _LUMA32  # (k, h, w)
    rw = _resize_weights(h, size).astype(np.float32)  # (size, h)
    cw = _resize_weights(w, size).astype(np.float32)  # (size, w)
    small = np.matmul(np.matmul(rw, luma), cw.T).astype(np.float64)
    d = _dct_matrix(size)
    freq = np.matmul(np.matmul(d, small), d.T)
    coefs = freq[:, :block, :block].reshape(k, block * block)[:, 1:]  # (k, 63)
    med = np.median(coefs, axis=1, keepdims=True)
    bits = (coefs > med).astype(np.uint8)
    bits = np.concatenate([bits, np.zeros((k, 1), dtype=np.uint8)], axis=1)
    return np.packbits(bits, axis=1, bitorder="little").view("<u8").ravel()


def phash64(pixels: np.ndarray, size: int = 32, block: int = 8) -> int:
    """Perceptual hash of one (h, w, 3) uint8 image → non-negative int < 2^63."""
    return int(phash_stack(pixels[None, ...], size=size, block=block)[0])


def phash_batch(
    fmts: list[str],
    datas: list[bytes],
    ws: list[int],
    hs: list[int],
    size: int = 32,
    block: int = 8,
) -> np.ndarray:
    """pHash for a heterogeneous Arrow batch.

    Rows are grouped by (fmt, w, h); each group decodes into one contiguous
    stack and goes through ``phash_stack`` — per-row Python is limited to the
    decode dispatch, all math is batched numpy (BASELINE.json:15).
    """
    n = len(datas)
    out = np.zeros(n, dtype=np.uint64)
    groups: dict[tuple, list[int]] = {}
    for i in range(n):
        groups.setdefault((fmts[i], int(ws[i]), int(hs[i])), []).append(i)
    for (fmt, w, h), idxs in groups.items():
        stack = np.stack([decode(fmt, datas[i], w, h) for i in idxs])
        out[np.array(idxs)] = phash_stack(stack, size=size, block=block)
    return out

"""Deterministic hashing shared by the Spark pipeline and the golden oracle.

All functions here are pure (numpy/hashlib only) so the SAME code runs inside
Arrow-batched pandas UDFs on executors and inside the single-process test
oracle — this is what guarantees "same shingle/signature config" agreement
(BASELINE.json:14) without a reference binary to diff against.

Key pieces:
- ``hash64_str`` / ``hash64_bytes``: sha256-derived 64-bit universal hash
  (FIXTURES.md pinned config: "hashed to int64 (sha256-derived universal hash)").
- ``mulmod_p61``: vectorized (a*x) mod (2^61 - 1) without 128-bit ints, via
  32-bit limb decomposition and the identity 2^61 ≡ 1 (mod p). Used by MinHash.
"""

from __future__ import annotations

import hashlib

import numpy as np

from dedup_spark.config import MERSENNE_P61

_P = np.uint64(MERSENNE_P61)
_MASK61 = np.uint64(MERSENNE_P61)
_MASK32 = np.uint64(0xFFFFFFFF)
_MASK29 = np.uint64((1 << 29) - 1)


def hash64_str(s: str) -> int:
    """sha256-derived unsigned 64-bit hash of a string. Deterministic forever."""
    return int.from_bytes(hashlib.sha256(s.encode("utf-8")).digest()[:8], "big")


def hash64_bytes(b: bytes) -> int:
    return int.from_bytes(hashlib.sha256(b).digest()[:8], "big")


def content_digest(image_bytes: bytes, caption: str) -> str:
    """Exact-dup content digest: sha256 over bytes || 0x00 || utf8(caption).

    Spark analog of the reference's per-file digest; the signature stage
    (dedup_spark.operators.signatures) emits it as the ``sha256`` column of
    every image row.
    """
    h = hashlib.sha256()
    h.update(image_bytes)
    h.update(b"\x00")
    h.update(caption.encode("utf-8"))
    return h.hexdigest()


def mulmod_p61(a: np.ndarray, x: np.ndarray) -> np.ndarray:
    """(a * x) mod (2^61 - 1) for uint64 arrays with values < 2^61.

    Decompose a*x = ahi*xhi*2^64 + (ahi*xlo + alo*xhi)*2^32 + alo*xlo and use
    2^61 ≡ 1 (mod p), i.e. 2^64 ≡ 8 and 2^32*2^29 ≡ 1. Every intermediate
    stays < 2^64, so plain wrapping uint64 numpy arithmetic is exact.
    """
    a = np.asarray(a, dtype=np.uint64)
    x = np.asarray(x, dtype=np.uint64)
    shape = np.broadcast_shapes(a.shape, x.shape)
    a = np.broadcast_to(a, shape)
    x = np.broadcast_to(x, shape)
    # All ops write into 5 preallocated buffers: one fresh ufunc temp per op
    # would page-fault a new arena each time, which dominates the runtime for
    # the wide matrices MinHash feeds through here.
    c3, c29, c32, c61 = np.uint64(3), np.uint64(29), np.uint64(32), np.uint64(61)
    ah = np.right_shift(a, c32)              # < 2^29
    al = np.bitwise_and(a, _MASK32)          # < 2^32
    xh = np.right_shift(x, c32)
    xl = np.bitwise_and(x, _MASK32)
    out = np.empty(shape, dtype=np.uint64)
    t = np.empty(shape, dtype=np.uint64)

    # ahi*xhi*2^64 ≡ ahi*xhi*8  (< 2^61, no fold needed)
    np.multiply(ah, xh, out=out)
    np.left_shift(out, c3, out=out)

    # mid = ahi*xlo + alo*xhi  (< 2^62); fold once, then *2^32 via 29/32 split
    np.multiply(ah, xl, out=ah)
    np.multiply(al, xh, out=xh)
    np.add(ah, xh, out=ah)                   # mid
    np.right_shift(ah, c61, out=t)
    np.bitwise_and(ah, _MASK61, out=ah)
    np.add(ah, t, out=ah)                    # folded mid < 2^61
    np.right_shift(ah, c29, out=t)
    np.bitwise_and(ah, _MASK29, out=ah)
    np.left_shift(ah, c32, out=ah)
    np.add(ah, t, out=ah)                    # t2 = mid*2^32 mod p
    np.add(out, ah, out=out)

    # alo*xlo < 2^64: fold
    np.multiply(al, xl, out=al)
    np.right_shift(al, c61, out=t)
    np.bitwise_and(al, _MASK61, out=al)
    np.add(al, t, out=al)
    np.add(out, al, out=out)                 # s < 2^63

    np.right_shift(out, c61, out=t)
    np.bitwise_and(out, _MASK61, out=out)
    np.add(out, t, out=out)
    np.subtract(out, _P, out=t)
    np.minimum(out, t, out=out)              # conditional -p: t wrapped if s<p
    return out


def to_signed64(u: np.ndarray) -> np.ndarray:
    """Reinterpret uint64 as int64 (two's complement) for Spark LongType."""
    return u.astype(np.uint64, copy=False).view(np.int64)


_POP8 = np.array([bin(b).count("1") for b in range(256)], dtype=np.uint8)


def popcount64(x: np.ndarray) -> np.ndarray:
    """Per-element popcount of a uint64/int64 array: one table lookup per
    byte (numpy<2 lacks bit_count)."""
    v = np.ascontiguousarray(x).view(np.uint8)
    return _POP8[v].reshape(x.shape + (x.dtype.itemsize,)).sum(axis=-1)

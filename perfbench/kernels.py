"""Standalone single-thread rows/s of the signature and verify kernels in
``dedup_spark.functions``, on a fixed sample of the workload's own rows.

Each kernel runs on the same sample repeatedly for ``budget_s`` and reports
the median rate over its repetitions. The calling process has already pinned
BLAS to one thread (``session.get_spark`` does so before the JVM starts).
"""

from __future__ import annotations

import statistics
import time

import numpy as np


def _rate(fn, rows: int, budget_s: float) -> float:
    rates = []
    deadline = time.perf_counter() + budget_s
    while len(rates) < 3 or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        fn()
        rates.append(rows / (time.perf_counter() - t0))
    return statistics.median(rates)


def kernel_rates(sample, budget_s: float = 0.4) -> dict[str, float]:
    """``sample``: pandas frame with the input columns (bytes, w, h, fmt,
    caption). Returns metric name → rows/s."""
    from dedup_spark.config import DEFAULT_CONFIG as cfg
    from dedup_spark.functions.codecs import decode
    from dedup_spark.functions.hashing import popcount64
    from dedup_spark.functions.minhash import minhash_batch, perm_params
    from dedup_spark.functions.phash import phash_batch
    from dedup_spark.functions.simhash import simhash_batch
    from dedup_spark.functions.text import normalize_caption, shingle_hashes

    pix = sample[sample["w"] > 0]
    fmts, datas = pix["fmt"].tolist(), pix["bytes"].tolist()
    ws, hs = pix["w"].tolist(), pix["h"].tolist()
    norms = [normalize_caption(c) for c in sample["caption"]]
    sh = [shingle_hashes(s, cfg.shingle_k, {}) for s in norms]
    a, b = perm_params(cfg)
    sims = simhash_batch(sh)
    xor = sims ^ np.roll(sims, 1)

    def decode_all():
        for f, d, w, h in zip(fmts, datas, ws, hs):
            decode(f, d, w, h)

    def shingle_all():
        memo: dict = {}
        for s in norms:
            shingle_hashes(s, cfg.shingle_k, memo)

    n, npix = len(sample), len(pix)
    return {
        "functions.codecs.decode_rows_per_s": _rate(decode_all, npix, budget_s),
        "functions.phash.phash_batch_rows_per_s": _rate(
            lambda: phash_batch(fmts, datas, ws, hs), npix, budget_s),
        "functions.text.shingle_hashes_rows_per_s": _rate(
            shingle_all, n, budget_s),
        "functions.minhash.minhash_batch_rows_per_s": _rate(
            lambda: minhash_batch(sh, a, b), n, budget_s),
        "functions.simhash.simhash_batch_rows_per_s": _rate(
            lambda: simhash_batch(sh), n, budget_s),
        "functions.hashing.popcount64_rows_per_s": _rate(
            lambda: popcount64(xor), n, budget_s),
    }

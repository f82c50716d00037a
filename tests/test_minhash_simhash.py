import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from dedup_spark.config import DEFAULT_CONFIG
from dedup_spark.functions.hashing import popcount64
from dedup_spark.functions.minhash import (
    band_keys,
    jaccard,
    minhash_batch,
    perm_params,
)
from dedup_spark.functions.simhash import simhash_batch

A, B = perm_params(DEFAULT_CONFIG)


def _sets(seed, n, overlap):
    rng = np.random.default_rng(seed)
    shared = rng.integers(0, 2**61, size=int(n * overlap), dtype=np.uint64)
    u1 = rng.integers(0, 2**61, size=n - len(shared), dtype=np.uint64)
    u2 = rng.integers(0, 2**61, size=n - len(shared), dtype=np.uint64)
    s1 = np.unique(np.concatenate([shared, u1]))
    s2 = np.unique(np.concatenate([shared, u2]))
    return s1, s2


@given(st.integers(0, 10_000), st.floats(0.1, 0.95))
@settings(max_examples=30, deadline=None)
def test_minhash_estimates_jaccard(seed, overlap):
    s1, s2 = _sets(seed, 60, overlap)
    sig = minhash_batch([s1, s2], A, B)
    est = float((sig[0] == sig[1]).mean())
    true = jaccard(s1, s2)
    # 128 perms → σ = sqrt(J(1-J)/128) ≤ 0.045; allow 4σ
    assert abs(est - true) < 0.18


def test_identical_sets_share_all_bands():
    s1, _ = _sets(1, 40, 0.5)
    sig = minhash_batch([s1, s1.copy()], A, B)
    bk = band_keys(sig, 16, 8)
    assert (bk[0] == bk[1]).all()


def test_empty_rows_never_bucket_with_real_rows():
    s1, _ = _sets(2, 40, 0.5)
    sig = minhash_batch([s1, np.array([], dtype=np.uint64)], A, B)
    bk = band_keys(sig, 16, 8)
    assert not (bk[0] == bk[1]).any()


def test_minhash_batch_order_invariant():
    s1, s2 = _sets(3, 50, 0.7)
    one = minhash_batch([s1, s2], A, B)
    two = minhash_batch([s2, s1], A, B)
    assert (one[0] == two[1]).all() and (one[1] == two[0]).all()


def test_simhash_symmetry_and_locality():
    s1, s2 = _sets(4, 80, 0.9)
    _, s3 = _sets(5, 80, 0.0)
    h = simhash_batch([s1, s2, s3])
    near = popcount64(np.array([h[0] ^ h[1]]))[0]
    far = popcount64(np.array([h[0] ^ h[2]]))[0]
    assert near < far
    assert simhash_batch([s1])[0] == h[0]  # batch-independent


def test_hamming_bands_pigeonhole(spark):
    """The JVM simhash banding the pipeline runs (banding._hamming_bands_df)
    slices each hash into disjoint bands, so two hashes at Hamming d < bands
    share ≥ bands - d band keys (exactly that many when the d flipped bits
    sit in d different bands, the worst case)."""
    import pandas as pd

    from dedup_spark.operators.banding import _hamming_bands_df

    bands, band_bits = DEFAULT_CONFIG.simhash_bands, DEFAULT_CONFIG.simhash_band_bits
    rng = np.random.default_rng(6)
    ids, vals = [], []
    for trial in range(5):
        base = rng.integers(0, 2**64, dtype=np.uint64)
        for d in range(bands):  # d < bands ⇒ guaranteed shared band
            flip = 0
            for band in rng.choice(bands, size=d, replace=False):
                flip |= 1 << int(band * band_bits + rng.integers(band_bits))
            for side, h in (("x", int(base)), ("y", int(base) ^ flip)):
                ids.append(f"{trial}-{d}-{side}")
                vals.append(h - (1 << 64) if h >= 1 << 63 else h)
    df = spark.createDataFrame(pd.DataFrame({"image_id": ids, "simhash": vals}))
    got = _hamming_bands_df(df, "simhash", "simhash", bands, band_bits).toPandas()
    keys = {
        iid: set(zip(g.band_idx, g.band_key)) for iid, g in got.groupby("image_id")
    }
    for iid, v in zip(ids, vals):  # the bands reassemble the hash
        assert len(keys[iid]) == bands
        assert sum(int(k) << (j * band_bits) for j, k in keys[iid]) == v % (1 << 64)
    for trial in range(5):
        for d in range(bands):
            x, y = keys[f"{trial}-{d}-x"], keys[f"{trial}-{d}-y"]
            assert len(x & y) == bands - d

"""Combo-band pigeonhole guarantee + star/rescue pair generation
(SURVEY.md §2 B14/B16-B19; operators.banding, operators.pairs)."""

from itertools import combinations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from dedup_spark.config import DEFAULT_CONFIG as CFG


def _combo_keys_np(x: int, bands: int, band_bits: int, r: int) -> set[tuple]:
    mask = (1 << band_bits) - 1
    sl = [(x >> (j * band_bits)) & mask for j in range(bands)]
    out = set()
    for idx, combo in enumerate(combinations(range(bands), r)):
        k = sl[combo[0]]
        for j in combo[1:]:
            k = (k << band_bits) | sl[j]
        out.add((idx, k))
    return out


@given(st.integers(0, 2**64 - 1), st.data())
@settings(max_examples=200, deadline=None)
def test_combo_bands_guarantee_hamming_within_threshold(x, data):
    """Flipping ≤ phash_hamming_max bits always leaves ≥ 1 shared combo key."""
    n_flips = data.draw(st.integers(0, CFG.phash_hamming_max))
    positions = data.draw(
        st.lists(st.integers(0, 63), min_size=n_flips, max_size=n_flips, unique=True)
    )
    y = x
    for p in positions:
        y ^= 1 << p
    kx = _combo_keys_np(x, CFG.phash_bands, CFG.phash_band_bits, CFG.phash_combo_r)
    ky = _combo_keys_np(y, CFG.phash_bands, CFG.phash_band_bits, CFG.phash_combo_r)
    assert kx & ky, f"no shared combo key at Hamming {n_flips}"


def test_spark_combo_bands_match_numpy(spark):
    """The JVM expression in _combo_bands_df computes the same keys."""
    from dedup_spark.operators.banding import _combo_bands_df

    rng = np.random.default_rng(7)
    vals = rng.integers(-(2**63), 2**63, size=50, dtype=np.int64)
    df = spark.createDataFrame(
        pd.DataFrame(
            {"image_id": [f"i{k}" for k in range(50)],
             "phash": vals, "n_shingles": [1] * 50}
        )
    )
    got = _combo_bands_df(
        df, "phash", "phash", CFG.phash_bands, CFG.phash_band_bits, CFG.phash_combo_r
    ).toPandas()
    for iid, v in zip([f"i{k}" for k in range(50)], vals):
        exp = _combo_keys_np(
            int(np.uint64(v)), CFG.phash_bands, CFG.phash_band_bits, CFG.phash_combo_r
        )
        rows = got[got.image_id == iid]
        assert set(zip(rows.band_idx, rows.band_key)) == exp


def _mini_bands(spark, members: dict[str, list[str]]):
    """Build a salted-band-shaped df: bucket key → member ids (salt 0)."""
    rows = []
    for key, ids in members.items():
        for i in ids:
            rows.append(
                {"image_id": i, "family": "minhash", "band_idx": 0,
                 "band_key": hash(key) % (2**31), "salt": 0}
            )
    return spark.createDataFrame(pd.DataFrame(rows))


def test_star_pairs_connect_every_bucket(spark):
    """Star output: per bucket exactly size-1 edges, all incident to the min,
    and the bucket's transitive closure is complete."""
    from dedup_spark.operators.pairs import candidate_pairs

    buckets = {"b1": ["c", "a", "b"], "b2": ["x", "y"], "b3": ["z"],
               "b4": ["a", "q"]}
    out = candidate_pairs(_mini_bands(spark, buckets)).toPandas()
    got = set(zip(out.a, out.b))
    assert got == {("a", "b"), ("a", "c"), ("x", "y"), ("a", "q")}


def test_star_pairs_link_salted_subbuckets(spark):
    """Sub-buckets of one logical bucket are joined through their minima."""
    from dedup_spark.operators.pairs import candidate_pairs

    rows = []
    for salt, ids in [(0, ["a", "b"]), (1, ["c", "d"])]:
        for i in ids:
            rows.append(
                {"image_id": i, "family": "minhash", "band_idx": 0,
                 "band_key": 42, "salt": salt}
            )
    out = candidate_pairs(spark.createDataFrame(pd.DataFrame(rows))).toPandas()
    got = set(zip(out.a, out.b))
    # stars within each sub-bucket + the rep link (a, c)
    assert got == {("a", "b"), ("c", "d"), ("a", "c")}


def test_orphan_rescue_targets_only_unlinked_rows(spark):
    """Rows with a verified edge are not rescued; orphans pair with their
    co-bucket members, minus pairs already judged in round one."""
    from dedup_spark.operators.pairs import orphan_rescue_pairs

    bands = _mini_bands(spark, {"b1": ["a", "b", "c"], "b2": ["d", "e"]})
    verified = spark.createDataFrame(
        pd.DataFrame(
            {"a": ["a", "a"], "b": ["b", "c"], "verified": [True, False]}
        )
    )
    nodes = bands.select("image_id").distinct()
    out = orphan_rescue_pairs(bands, verified, node_ids=nodes).toPandas()
    got = set(zip(out.a, out.b))
    # a,b linked → not orphans; c orphan (a-c judged already → only (b,c) new);
    # d,e both orphans → (d,e)
    assert got == {("b", "c"), ("d", "e")}

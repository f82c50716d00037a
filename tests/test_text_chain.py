"""Text slice correctness: text_dedup_clusters over the golden fixture's
valid captions (N=2000, seed=1337) against a caption-only oracle — the two
text families' verify thresholds (shingle Jaccard, simhash Hamming between
shingled rows) closed transitively with networkx."""

from __future__ import annotations

from collections import defaultdict
from itertools import combinations

import networkx as nx
import numpy as np
from pyspark.sql import functions as F

from dedup_spark.config import DEFAULT_CONFIG as CFG
from dedup_spark.functions.hashing import popcount64
from dedup_spark.functions.simhash import simhash_batch
from dedup_spark.functions.text import normalize_caption, shingle_hashes
from dedup_spark.oracle_ref import cluster_pairs, is_valid


def _caption_oracle(ids: list[str], captions: list[str]) -> dict[str, str]:
    memo: dict = {}
    sh = [shingle_hashes(normalize_caption(c), CFG.shingle_k, memo) for c in captions]
    live = [i for i, s in enumerate(sh) if len(s)]
    g = nx.Graph()
    g.add_nodes_from(ids)

    # Jaccard >= t implies a shared shingle: candidates from an inverted index
    sets = [set(s.tolist()) for s in sh]
    inv: dict[int, list[int]] = defaultdict(list)
    for i in live:
        for h in sets[i]:
            inv[h].append(i)
    cand: set[tuple[int, int]] = set()
    for members in inv.values():
        cand.update(combinations(members, 2))
    for i, j in cand:
        inter = len(sets[i] & sets[j])
        if inter / (len(sets[i]) + len(sets[j]) - inter) >= CFG.jaccard_threshold:
            g.add_edge(ids[i], ids[j])

    sims = simhash_batch([sh[i] for i in live])
    d = popcount64(np.bitwise_xor.outer(sims, sims))
    for x, y in zip(*np.nonzero(np.triu(d <= CFG.simhash_hamming_max, k=1))):
        g.add_edge(ids[live[x]], ids[live[y]])
    return {iid: min(comp) for comp in nx.connected_components(g) for iid in comp}


def _valid_captions(spark, golden_table):
    rows = golden_table[[is_valid(r) for _, r in golden_table.iterrows()]]
    pdf = rows[["image_id", "caption"]].reset_index(drop=True)
    return pdf, spark.createDataFrame(pdf)


def test_text_clusters_match_caption_oracle(spark, golden_table):
    from dedup_spark.operators.textdedup import text_dedup_clusters

    pdf, df = _valid_captions(spark, golden_table)
    got = text_dedup_clusters(df, "image_id", "caption").select(
        "image_id", "cluster_id"
    ).collect()
    ids = [r.image_id for r in got]
    assert sorted(ids) == sorted(pdf.image_id), "every row exactly once"

    truth = cluster_pairs(_caption_oracle(list(pdf.image_id), list(pdf.caption)))
    found = cluster_pairs({r.image_id: r.cluster_id for r in got})
    assert truth, "fixture must plant caption near-dups"
    recall = len(found & truth) / len(truth)
    assert recall >= 0.99, (recall, len(truth))
    assert not found - truth, sorted(found - truth)[:10]


def test_pixel_less_rows_have_no_phash_family(spark, golden_table):
    from dedup_spark.operators.banding import band_table
    from dedup_spark.operators.textdedup import text_signatures
    from dedup_spark.operators.verify import verify_pairs

    _, df = _valid_captions(spark, golden_table)
    sigs = text_signatures(df.limit(400), "image_id", "caption").localCheckpoint()
    assert sigs.where(F.col("phash").isNotNull()).count() == 0
    bands = band_table(sigs)
    assert bands.where(F.col("family") == "phash").count() == 0
    assert bands.where(F.col("family") != "phash").count() > 0

    ids = sorted(r.image_id for r in sigs.select("image_id").collect())
    pairs = spark.createDataFrame(
        [(a, b) for a, b in zip(ids, ids[1:])] + [(i, i) for i in ids[:5]],
        "a string, b string",
    )
    out = verify_pairs(pairs, sigs)
    flags = ["f_exact", "f_minhash", "f_simhash", "f_phash", "verified"]
    nulls = out.where(
        F.greatest(*[F.col(c).isNull().cast("int") for c in flags]) > 0
    ).count()
    assert nulls == 0
    assert out.where("f_phash").count() == 0
    assert out.where(F.col("hamming_ph").isNotNull()).count() == 0
    # a row paired with itself still verifies (on its digest)
    assert out.where(F.col("a") == F.col("b")).where("verified").count() == 5


def test_verify_jaccard_is_exact(spark, golden_table):
    """verify_pairs reports the exact shingle-set Jaccard for EVERY pair,
    checked against Python sets over consecutive-id golden captions. The
    fixture must hold pairs that share shingles at a simhash distance above
    24 bits (+5 sd at J = 0.8): a verify that skipped the shingle join
    beyond such a slack would report 0.0 there and fail."""
    from dedup_spark.operators.textdedup import text_signatures
    from dedup_spark.operators.verify import verify_pairs

    pdf, df = _valid_captions(spark, golden_table)
    sigs = text_signatures(df, "image_id", "caption").localCheckpoint()
    ids = sorted(pdf.image_id)
    pairs = spark.createDataFrame(list(zip(ids, ids[1:])), "a string, b string")
    got = verify_pairs(pairs, sigs).select("a", "b", "jaccard", "hamming_sim")
    rows = got.collect()
    assert len(rows) == len(ids) - 1

    memo: dict = {}
    sets = {
        i: set(shingle_hashes(normalize_caption(c), CFG.shingle_k, memo).tolist())
        for i, c in zip(pdf.image_id, pdf.caption)
    }
    far = 0
    for r in rows:
        sa, sb = sets[r.a], sets[r.b]
        want = len(sa & sb) / len(sa | sb) if sa and sb else 0.0
        assert r.jaccard == want, (r.a, r.b, r.jaccard, want)
        far += r.hamming_sim > 24 and want > 0
    assert far, "fixture must hold a sharing pair beyond a 24-bit simhash slack"

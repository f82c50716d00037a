"""Suffix-array substring containment pass (SURVEY.md §2 B21/B22).

Distributed scheme (exact for contained captions ≥ suffix_min_len chars):

1. every captioned row emits its WINNOWED gram hashes — the minimum of each
   window of ``suffix_window`` consecutive ``suffix_gram_q``-byte gram
   hashes (≈ 2/(w+1) of all grams) — plus, for rows long enough to be
   contained, an ANCHOR: the row's global-minimum gram. If A ⊆ B and A has
   ≥ w grams, some window of B lying fully inside A has A's global min as
   its window min, so B provably emits A's anchor — the minimizer guarantee
   that keeps recall exact while shrinking the index ~9×;
2. pattern anchors equi-join the winnowed index: (A, B) co-occur on A's
   anchor key;
3. each anchor-gram group (pattern docs + holder docs) goes through a
   batched UDF that scans each pattern doc over the group's NUL-joined
   captions with C memmem (_contained_pairs_find; property-tested identical
   to the suffix-array reference kernel in functions.suffix) — emitting
   only true containments;
4. oversized groups (boilerplate grams) are capped and LOGGED, mirroring the
   LSH hot-bucket policy (operators.skew).

The winnowed index is O(total caption chars / w) rows — cf. the corpus-level
suffix-array dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
Language Models Better"), shuffle-partitioned by minimizer key instead of
globally sorted. The index UDF emits EXPLODED numpy columns (one row per
(doc, gram)), never per-row Python lists — at 10^8+ grams the object churn
of list-valued rows dominates the stage.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dedup_spark.config import DEFAULT_CONFIG, PipelineConfig
from dedup_spark.functions.hashing import to_signed64
from dedup_spark.functions.minhash import splitmix64
from dedup_spark.session import map_in_groups, py_parallelism

# anchor-key join strategy: broadcast the (one-row-per-eligible-doc)
# anchor-key side only while the doc count stays under this; above it
# (10^10+ docs: tens of GB of keys) fall through to a plain shuffled
# semi-join — same output, no plan-time OOM (tests/test_suffix.py pins both
# plans to the same pairs).
BROADCAST_MAX_DOCS = 20_000_000

_GRAMS_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("gram", LongType(), False),
        StructField("is_anchor", BooleanType(), False),
    ]
)

_PAIRS_SCHEMA = StructType(
    [StructField("a", StringType(), False), StructField("b", StringType(), False)]
)


def _gram_hashes_one(text: bytes, q: int) -> np.ndarray:
    """64-bit hashes of all q-byte grams in order (kept for tests/oracle)."""
    arr = np.frombuffer(text, dtype=np.uint8)
    if len(arr) < q:
        return np.empty(0, dtype=np.uint64)
    win = np.lib.stride_tricks.sliding_window_view(arr, q).astype(np.uint64)
    h = np.zeros(win.shape[0], dtype=np.uint64)
    for c in range(q):
        h = splitmix64(h ^ win[:, c])
    return h


def _winnowed(h: np.ndarray, w: int) -> np.ndarray:
    """Distinct window-minimum values over windows of w consecutive grams."""
    if len(h) < w:
        return np.empty(0, dtype=np.uint64)
    return np.unique(np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1))


def _batch_winnowed(
    texts: list[bytes], q: int, w: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batch-vectorized winnowing → (doc_idx, gram, is_anchor) arrays.

    One hash/window-min pass over the CONCATENATION of the batch's captions
    (windows that cross document boundaries are computed but never indexed),
    instead of a ~30-numpy-call chain per caption — the per-row call
    overhead, not the hashing, dominated the r1 kernel. Dedup of (doc,
    min-gram) pairs is a lexsort + adjacent-diff; the first row of each
    doc's sorted block is its global-minimum gram = its containment ANCHOR
    (eligibility len ≥ q+w−1 coincides with emitting ≥1 winnowed gram,
    enforced against suffix_min_len by the caller's config check).
    """
    span = q + w - 1
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts))
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    counts = np.maximum(lens - span + 1, 0)
    total = int(counts.sum())
    empty = (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, bool))
    if total == 0:
        return empty
    buf = np.frombuffer(b"".join(texts), dtype=np.uint8)
    nwin = len(buf) - q + 1
    win = np.lib.stride_tricks.sliding_window_view(buf, q)
    h = np.zeros(nwin, dtype=np.uint64)
    for c in range(q):
        h = splitmix64(h ^ win[:, c].astype(np.uint64))
    # window-min over w consecutive grams: w-1 in-place minimums, no temps
    l = nwin - w + 1
    wmin = h[:l].copy()
    for j in range(1, w):
        np.minimum(wmin, h[j:j + l], out=wmin)
    # ragged per-doc ranges of VALID window positions, fully vectorized
    doc_idx = np.repeat(np.arange(len(texts), dtype=np.int64), counts)
    cum = np.cumsum(counts) - counts
    pos = (np.arange(total, dtype=np.int64) - np.repeat(cum, counts)
           + np.repeat(starts, counts))
    mins = wmin[pos]
    order = np.lexsort((mins, doc_idx))
    d_s, m_s = doc_idx[order], mins[order]
    keep = np.ones(total, dtype=bool)
    keep[1:] = (d_s[1:] != d_s[:-1]) | (m_s[1:] != m_s[:-1])
    d_k, m_k = d_s[keep], m_s[keep]
    is_anchor = np.ones(len(d_k), dtype=bool)
    is_anchor[1:] = d_k[1:] != d_k[:-1]  # first (= unsigned-min) gram per doc
    return d_k, to_signed64(m_k), is_anchor


def gram_index(sigs: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Winnowed gram index + anchors in ONE pass over the captions:
    (image_id, gram, is_anchor) — is_anchor marks each eligible doc's
    global-minimum gram (r1 ran a second full hashing pass for anchors)."""
    q, w, min_len = cfg.suffix_gram_q, cfg.suffix_window, cfg.suffix_min_len
    if min_len < q + w - 1:  # hard error: must survive python -O
        raise ValueError(
            "minimizer containment guarantee broken:"
            f" suffix_min_len={min_len} < gram_q+window-1={q + w - 1}"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            texts = [s.encode("utf-8") for s in pdf["caption_norm"]]
            d_idx, grams, anchors = _batch_winnowed(texts, q, w)
            if not len(d_idx):
                continue
            ids = pdf["image_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "image_id": ids[d_idx],
                    "gram": grams,
                    "is_anchor": anchors,
                }
            )

    return (
        sigs.select("image_id", "caption_norm")
        .coalesce(py_parallelism(sigs.sparkSession))
        .mapInPandas(run, schema=_GRAMS_SCHEMA)
    )


def containment_candidates(
    gram_df: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    group_cap: int = 1000,
    *,
    n_docs: int,
) -> tuple[DataFrame, DataFrame]:
    """→ (group membership rows, skipped-group log).

    ``gram_df`` must be MATERIALIZED (the caller checkpoints it): it is
    consumed once for the anchor-key broadcast and once for the semi-join.

    Membership: (gram, image_id) — holders of each anchor gram (pattern
    docs are members of their own anchor group by construction: a doc's
    anchor is one of its own winnowed grams).

    The anchor-key side is one slim row per eligible doc; while ``n_docs``
    stays under ``BROADCAST_MAX_DOCS`` it is BROADCAST so the big winnowed
    index is never shuffled for this join. Above it (10^10+ docs — a
    broadcast of tens of GB would die at plan time) the hint is dropped and
    the same join runs as a plain shuffled semi-join: identical output, one
    extra shuffle of the index. Distinct anchor keys ≤ anchors ≤ n_docs
    (≤ 1 anchor per doc), so the gate is conservative: it can only fall
    back to the shuffle plan early, never broadcast something oversized.
    """
    anchor_keys = gram_df.where("is_anchor").select("gram").distinct()
    if n_docs <= BROADCAST_MAX_DOCS:
        anchor_keys = F.broadcast(anchor_keys)
    # checkpoint the PRUNED membership (a small fraction of the index): it
    # is consumed twice below (size census + viable filter)
    both = (
        gram_df.join(anchor_keys, "gram", "left_semi")
        .select("gram", "image_id")
        .localCheckpoint()
    )

    sizes = both.groupBy("gram").agg(F.count("*").alias("n"))
    skipped = sizes.where(F.col("n") > group_cap)
    # singleton groups (an anchor gram occurring only in its own doc — the
    # overwhelming majority) cannot produce a pair; dropping them before the
    # grouped-map UDF removes ~95% of the per-group invocation overhead,
    # which is what the suffix stage's wall-clock is actually made of
    viable = sizes.where((F.col("n") > 1) & (F.col("n") <= group_cap))
    kept = both.join(viable.select("gram"), "gram", "left_semi")
    return kept, skipped


def _contained_pairs_find(
    ids: list[str],
    texts: list[str],
    min_len: int,
    enc_cache: dict[str, bytes] | None = None,
) -> set[tuple[str, str]]:
    """Cross-doc containment pairs of ONE anchor group via C memmem.

    Semantics identical to functions.suffix.containment_pairs (the
    suffix-array reference kernel; pinned by a hypothesis test): all
    unordered (min_id, max_id) pairs where one text is a substring of the
    other and the contained text has ≥ min_len CHARACTERS. One bytes.find
    pass per pattern over the group's NUL-joined corpus, jumping to the next
    doc boundary after each hit, so a pattern costs ≤ holders+1 finds.
    Byte-level find is char-exact on UTF-8 (self-synchronizing: a byte match
    of a valid sequence cannot start mid-codepoint).
    """
    m = len(ids)
    if m < 2:
        return set()
    if enc_cache is None:
        enc_cache = {}
    enc = []
    for t in texts:
        e = enc_cache.get(t)
        if e is None:
            e = t.encode("utf-8")
            enc_cache[t] = e
        enc.append(e)
    starts = np.empty(m + 1, dtype=np.int64)
    pos = 0
    for j, e in enumerate(enc):
        starts[j] = pos
        pos += len(e) + 1
    starts[m] = pos
    corpus = b"\x00".join(enc)
    clen = len(corpus)
    out: set[tuple[str, str]] = set()
    for i in range(m):
        if len(texts[i]) < min_len:  # characters, not bytes
            continue
        pat = enc[i]
        p = corpus.find(pat)
        while p >= 0:
            j = int(np.searchsorted(starts, p, side="right")) - 1
            if j != i:
                a, b = ids[i], ids[j]
                out.add((a, b) if a < b else (b, a))
            nxt = int(starts[j + 1])  # skip the rest of holder doc j
            if nxt >= clen:
                break
            p = corpus.find(pat, nxt)
    return out


def containment_pairs_df(
    membership: DataFrame, sigs: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Containment scan over each anchor-gram group → (a, b).

    Batched by session.map_in_groups on gram: anchor groups are tiny and
    numerous (~1.17M 2–15 member groups at n=6.4M), so a per-group
    grouped map's fixed cost would dwarf the matching work by ~30×.
    """
    min_len = cfg.suffix_min_len
    with_text = membership.join(
        sigs.select("image_id", "caption_norm"), "image_id"
    )

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        # Anchor groups are tiny and NUMEROUS (~1.17M groups at n=6.4M): a
        # per-group pandas groupby + prefix-doubling suffix array spent
        # ~3.8 ms/group in pure call overhead — 75% of the whole stage at 16
        # cores (BENCH/profile_containment_16c_6400k.json). The group scan is
        # now numpy boundary slicing over the gram-sorted batch, and matching
        # is the C-memmem kernel (_contained_pairs_find, property-tested
        # identical to the suffix-array reference kernel).
        grams = pdf["gram"].to_numpy()
        ids = pdf["image_id"].tolist()
        texts = pdf["caption_norm"].tolist()
        bounds = np.flatnonzero(np.r_[True, grams[1:] != grams[:-1], True])
        out: set[tuple[str, str]] = set()
        enc_cache: dict[str, bytes] = {}
        for g in range(len(bounds) - 1):
            i0, i1 = int(bounds[g]), int(bounds[g + 1])
            if i1 - i0 < 2:
                continue
            # (gram, image_id) rows are distinct by construction (the index
            # dedups per-doc grams), so members need no within-group dedupe
            out |= _contained_pairs_find(
                ids[i0:i1], texts[i0:i1], min_len, enc_cache
            )
        if not out:
            return pd.DataFrame({"a": pd.Series(dtype=object),
                                 "b": pd.Series(dtype=object)})
        arr = sorted(out)
        return pd.DataFrame({"a": [p[0] for p in arr],
                             "b": [p[1] for p in arr]})

    return map_in_groups(
        with_text, ["gram"], emit, _PAIRS_SCHEMA
    ).dropDuplicates(["a", "b"])


def containment_stage(
    sigs: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG, group_cap: int = 1000
) -> tuple[DataFrame, DataFrame]:
    """sigs → (containment pairs (a,b), skipped-group log).

    The winnowing UDF runs ONCE (anchors ride along as a boolean column);
    the materialized index then feeds both the anchor-key broadcast and the
    membership semi-join. At trillion-row scale swap localCheckpoint for a
    stage table (same lifecycle as the other checkpoints).
    """
    gi = gram_index(sigs, cfg).localCheckpoint()
    membership, skipped = containment_candidates(
        gi, cfg, group_cap, n_docs=sigs.count()
    )
    return containment_pairs_df(membership, sigs, cfg), skipped

"""Connected components (SURVEY.md §2 B34): two paths, chosen by edge count.

Dedup edge sets are tiny relative to the corpus — verification keeps
O(true duplicates) edges, not O(candidates) — so the common case (even at
10^12 input rows, if dup density is sane) is an edge table far below worker
memory. The two paths:

- ``edge count ≤ local_threshold``: ONE executor task (mapInArrow on a
  single partition — executor-side, memory-bounded by the gate, NOT a
  driver collect) codes the endpoint strings in Arrow's C++ kernels and runs
  a vectorized numpy union-find over the codes; see ``_label_batches``. The
  codes are the ranks of the sorted distinct ids, so they are dense, equal
  codes mean equal strings (no hashing, hence no collision to check for),
  and code order is id order: the min root of a component IS its min
  image_id, and roots map back to strings with one ``take``. Replaces the
  r1 per-round driver loop whose ~6 barrier jobs made t_clusters the
  least-scalable stage in BENCH r1.
- above the gate: DataFrame-iterative large-star/small-star (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14 — the standard
  O(log n)-round algorithm needing only groupBy/join per round). This is
  the path for edge sets that do not fit in one worker; rounds converge on
  an order-insensitive (count, xor-of-hashes) fingerprint, one aggregate
  per round, with ``localCheckpoint`` truncating lineage (without it the
  plan doubles per iteration).

Node ids are the string image_ids; ordering is by UTF-8 bytes (Arrow's and
Spark's string order alike), cluster id = component minimum. Both paths
produce identical assignments (property-tested against networkx in
tests/test_cc.py).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The in-task path's memory gate, in distinct edges. Worker peak RSS of the
# task body with generator-shaped ~27-byte ids, input in 4096-row batches:
# ~200 B per edge (209 MB at 1M, 751 MB at 4M, 2,496 MB at 13M), mostly the
# input strings plus Arrow's hash table while it builds the dictionary. The
# xxhash64-coded task it replaced peaked at 2,578 MB for its 20M-edge gate
# (135 B per edge), so 13M keeps the worker's peak no higher. Longer ids
# cost more per edge.
LOCAL_EDGES = 13_000_000

# rows per output batch of the in-task path: bounds each string column of a
# batch far below Arrow's 2 GiB int32 offsets
_OUT_ROWS = 1 << 16


def _sym(edges: DataFrame) -> DataFrame:
    e = edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    return e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _large_star(sym: DataFrame) -> DataFrame:
    mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.withColumn("mn", F.least("mn", F.col("src")))
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("a"), F.col("mn").alias("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # orient max → min
    e = edges.select(
        F.greatest("a", "b").alias("src"), F.least("a", "b").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    mins = e.groupBy("src").agg(F.min("dst").alias("mn"))
    linked = (
        e.join(mins, "src")
        .select(F.col("dst").alias("a"), F.col("mn").alias("b"))
        .union(mins.select(F.col("src").alias("a"), F.col("mn").alias("b")))
    )
    return linked.where(F.col("a") != F.col("b")).distinct()


def _fingerprint(edges: DataFrame) -> tuple:
    row = edges.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(a, b))").alias("h"),  # xor: no ANSI overflow
    ).collect()[0]
    return (row["n"], row["h"])


def _numpy_components(ca: np.ndarray, cb: np.ndarray, n: int) -> np.ndarray:
    """Vectorized union-find over edges of dense codes ``0..n-1`` → the
    root of every code, which is the minimum code of its component.

    O(E) per round, O(log n) rounds (pointer-jumping + per-edge min-root
    linking via np.minimum.at); no python-level per-edge loop.
    """
    parent = np.arange(n, dtype=ca.dtype)
    for _ in range(64):
        # full path compression
        while True:
            gp = parent[parent]
            if np.array_equal(gp, parent):
                break
            parent = gp
        ra, rb = parent[ca], parent[cb]
        lo, hi = np.minimum(ra, rb), np.maximum(ra, rb)
        live = hi != lo
        if not live.any():
            break
        np.minimum.at(parent, hi[live], lo[live])
    return parent[parent]


def _label_batches(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow body: edge batches (a, b) → (image_id, cluster_id) rows for
    every non-root node, cluster_id = the component's min image_id.

    The endpoints stay chunked as they arrive; ``large_string`` keeps the
    distinct-id dictionary valid past 2 GiB of id bytes. Dictionary encoding
    gives each distinct id an index, and the rank of that id in the sorted
    dictionary replaces the index, so codes are dense and in id order.
    """
    a, b = [], []
    for batch in batches:
        a.append(batch.column(0))
        b.append(batch.column(1))
    n_edges = sum(len(c) for c in a)
    if not n_edges:
        return
    enc = pa.chunked_array(a + b).cast(pa.large_string()).dictionary_encode()
    del a, b  # each input is dropped once coded: the peak is the encode step
    ids = enc.chunk(0).dictionary
    order = pc.sort_indices(ids).to_numpy()
    rank = np.empty(len(ids), dtype=np.int32)
    rank[order] = np.arange(len(ids), dtype=np.int32)
    codes = rank[np.concatenate([c.indices.to_numpy() for c in enc.chunks])]
    del enc, rank
    roots = _numpy_components(codes[:n_edges], codes[n_edges:], len(ids))
    del codes
    members = np.flatnonzero(roots != np.arange(len(roots)))
    for lo in range(0, len(members), _OUT_ROWS):
        m = members[lo : lo + _OUT_ROWS]
        yield pa.RecordBatch.from_arrays(
            [
                ids.take(order[m]).cast(pa.string()),
                ids.take(order[roots[m]]).cast(pa.string()),
            ],
            names=["image_id", "cluster_id"],
        )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    max_iter: int = 25,
    local_threshold: int = LOCAL_EDGES,
) -> DataFrame:
    """edges(a, b) + nodes(image_id) → clusters(image_id, cluster_id).

    Every node appears exactly once; isolated nodes are their own cluster.
    Two paths by distinct edge count:

    - ≤ ``local_threshold``: one task codes the ids by their rank in the
      sorted distinct-id set and runs a numpy union-find on the codes.
      Codes come from exact string equality, not a hash, so two ids never
      share one and no collision check or fallback is needed; code order
      is id order, so the root is the min image_id with no relabel.
    - above: iterative star-contraction — the path for edge sets that do
      not fit in one worker.
    """
    cur = (
        edges.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    if cur.count() <= local_threshold:
        labeled = cur.repartition(1).mapInArrow(
            _label_batches, schema="image_id string, cluster_id string"
        )
    else:
        prev_fp = None
        for _ in range(max_iter):
            cur = _small_star(_large_star(_sym(cur))).localCheckpoint()
            fp = _fingerprint(cur)
            if fp == prev_fp:
                break
            prev_fp = fp
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
        # fixpoint of star-contraction: every edge is (member, component_min)
        assign = cur.select(
            F.col("a").alias("image_id"), F.col("b").alias("cluster_id")
        )
        roots = cur.select(F.col("b").alias("image_id")).distinct().withColumn(
            "cluster_id", F.col("image_id")
        )
        labeled = assign.union(roots).dropDuplicates(["image_id"])

    singletons = nodes.join(labeled, "image_id", "left_anti").withColumn(
        "cluster_id", F.col("image_id")
    )
    return labeled.union(singletons)

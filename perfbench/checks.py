"""Output checks for one benchmark pass, independent of the program's code.

The expected answer comes from the generator's documented plant layout
(``dedup_spark.sources.gen_images``): ids come in blocks of 100 and each slot
of a block plays a fixed role. A planted *link* joins a row to the row it was
made from; rows joined by links form a planted *group* that the program
must put in one cluster.

- ``planted_recall``: share of the planted pairs (two rows of one planted
  group) that share a cluster. Pairs, not links, as in the repo's golden
  recall (``oracle_ref.cluster_pairs``), so the one boilerplate-caption group
  that spans the table weighs by its pair count: it holds all but a few
  tenths of a percent of the planted pairs.
- ``link_recall``: share of the planted links outside that hot group whose
  two rows share a cluster. Every per-block scenario (exact copies,
  re-encodes, crops, caption edits, directory mirrors) weighs by its link
  count here, so losing one scenario shows even while ``planted_recall``
  stays near 1.
- ``missed_links``: planted links, hot group included, whose two rows ended
  in different clusters.
- ``unplanted_pairs``: same-cluster pairs whose rows are in different
  planted groups. For a given seed it must repeat exactly.
- ``digest``: order-independent hash of the (image_id, cluster_id) table.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from dataclasses import dataclass

RECALL_FLOOR = 0.99
# Outside the hot group, LSH misses cost up to ~1% of the links across
# seeds; one per-block scenario is 6-8% of them, one directory-mirror slot
# 3-4%.
LINK_RECALL_FLOOR = 0.95

# (slot, source slot, kind). Kinds say which signal carries the link, so a
# workload that sees only captions drops the links no caption can carry.
_BLOCK_LINKS = [
    (50, 0, "exact"), (51, 0, "exact"), (52, 1, "exact"),
    (53, 2, "image+caption"), (54, 3, "image"),
    (55, 4, "caption"), (56, 5, "caption"), (57, 6, "containment"),
    (58, 7, "caption"), (59, 58, "caption"), (60, 9, "image+caption"),
]
# even blocks only: dirB mirrors dirA, dirD shares two members of dirC
_EVEN_BLOCK_LINKS = [(86 + j, 80 + j, "exact") for j in range(6)] + [
    (95, 92, "exact"), (96, 93, "exact"),
]
_HOT_SLOTS = range(65, 80)  # one boilerplate caption family across the table
_INVALID_SLOT = 64          # empty payload, filtered by the validity predicates
CAPTION_KINDS = frozenset({"exact", "image+caption", "caption"})
ALL_KINDS = CAPTION_KINDS | {"image", "containment"}


def planted_links(n: int, kinds: frozenset = ALL_KINDS) -> list[tuple[int, int]]:
    """Planted (row, source row) links among row ids ``0..n-1``."""
    links = []
    hot_root = None
    for block in range(0, (n + 99) // 100):
        base = block * 100
        table = _BLOCK_LINKS + (_EVEN_BLOCK_LINKS if block % 2 == 0 else [])
        for slot, src, kind in table:
            if kind in kinds and base + slot < n:
                links.append((base + slot, base + src))
        if "caption" in kinds:
            for slot in _HOT_SLOTS:
                rid = base + slot
                if rid >= n:
                    break
                if hot_root is None:
                    hot_root = rid
                else:
                    links.append((rid, hot_root))
    return links


def is_hot(row: int) -> bool:
    return row % 100 in _HOT_SLOTS


def invalid_rows(n: int) -> set[int]:
    return {r for r in range(_INVALID_SLOT, n, 100)}


def _groups(n: int, links: list[tuple[int, int]]) -> list[int]:
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in links:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [find(x) for x in range(n)]


def digest(image_ids: list[str], cluster_ids: list[str]) -> str:
    """Order-independent digest of the (image_id, cluster_id) table."""
    acc = 0
    for i, c in zip(image_ids, cluster_ids):
        h = hashlib.blake2b(f"{i}\x00{c}".encode(), digest_size=16).digest()
        acc = (acc + int.from_bytes(h, "little")) % (1 << 128)
    return f"{acc:032x}-{len(image_ids)}"


@dataclass
class Verdict:
    ok: bool
    reason: str
    planted_recall: float
    link_recall: float
    missed_links: int
    unplanted_pairs: int
    digest: str


def check_clusters(
    image_ids: list[str],
    cluster_ids: list[str],
    id_of_row: dict[int, str],
    expected_rows: set[int],
    links: list[tuple[int, int]],
) -> Verdict:
    """Check one pass's cluster table against the planted layout.

    ``id_of_row`` maps generator row ids to image ids; ``expected_rows`` is
    the set of rows the table must hold, each exactly once."""
    dg = digest(image_ids, cluster_ids)
    counts = Counter(image_ids)
    dupes = [i for i, c in counts.items() if c > 1]
    if dupes:
        return Verdict(False, f"{len(dupes)} rows labelled more than once, "
                       f"e.g. {dupes[0]}", 0.0, 0.0, 0, 0, dg)
    row_of_id = {v: k for k, v in id_of_row.items()}
    got = {row_of_id.get(i, -1) for i in image_ids}
    if got != expected_rows:
        missing = expected_rows - got
        extra = len(got - expected_rows)
        return Verdict(False, f"{len(missing)} expected rows missing, "
                       f"{extra} unexpected rows", 0.0, 0.0, 0, 0, dg)
    cluster_of_row = {row_of_id[i]: c for i, c in zip(image_ids, cluster_ids)}
    split = [cluster_of_row[a] != cluster_of_row[b] for a, b in links]
    missed = sum(split)
    cold = [s for (a, _), s in zip(links, split) if not is_hot(a)]
    link_recall = 1 - sum(cold) / len(cold) if cold else 1.0

    n = max(id_of_row) + 1
    group = _groups(n, links)

    def pairs(counter: Counter) -> int:
        return sum(k * (k - 1) // 2 for k in counter.values())

    planted = pairs(Counter(group[r] for r in cluster_of_row))
    same_cluster = pairs(Counter(cluster_of_row.values()))
    planted_same = pairs(Counter((c, group[r]) for r, c in cluster_of_row.items()))
    recall = planted_same / planted if planted else 1.0
    unplanted = same_cluster - planted_same
    reason = "ok"
    if recall < RECALL_FLOOR:
        reason = f"planted recall {recall:.4f} < {RECALL_FLOOR}"
    elif link_recall < LINK_RECALL_FLOOR:
        reason = (f"link recall outside the hot group {link_recall:.4f} "
                  f"< {LINK_RECALL_FLOOR}")
    return Verdict(reason == "ok", reason, recall, link_recall, missed,
                   unplanted, dg)

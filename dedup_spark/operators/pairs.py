"""Candidate pair generation (SURVEY.md §2 B19/B20).

Default strategy — ``star`` (scale path): within every salted band bucket,
each member emits ONE edge to the bucket minimum, and salted sub-bucket
minima link to the bucket minimum. Per band this is O(n) candidates total,
independent of how big any true duplicate cluster is; an all-pairs bucket
join is quadratic in cluster size *even under a bucket cap*, because a
mega-cluster of k boilerplate captions splits into many mid-size buckets in
every one of the 16+ bands (k ~ 10^6 at 10^12 rows ⇒ job death). Star edges
preserve the thing connected components actually needs — connectivity:
members reach each other through their verified bucket minimum, and the
transitive closure restores full clusters. Verification still gates every
edge, so precision is untouched; the recall trade-off (a member whose bucket
min happens to be an unrelated collision loses that one bucket's link) is
bounded by the other bands/families and asserted ≥ 0.99 by the golden gate.
This mirrors the standard production MinHash-LSH dedup layout (group by band
hash → edge to group representative).

Cross-family/band dedup → distinct (a, b): a pair found by 16 bands still
verifies exactly once (map-side combine collapses duplicates pre-shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_KEY = ["family", "band_idx", "band_key"]
_SKEY = [*_KEY, "salt"]


def _star_pairs(salted_bands: DataFrame) -> DataFrame:
    sub = Window.partitionBy(*_SKEY)
    starred = salted_bands.withColumn("rep", F.min("image_id").over(sub))
    member_edges = starred.where(F.col("image_id") != F.col("rep")).select(
        F.col("rep").alias("a"), F.col("image_id").alias("b")
    )
    # link salted sub-buckets of the same logical bucket (no-op when salt=0)
    reps = starred.select(*_KEY, "salt", "rep").distinct()
    bucket = Window.partitionBy(*_KEY)
    rep_edges = (
        reps.withColumn("root", F.min("rep").over(bucket))
        .where(F.col("rep") != F.col("root"))
        .select(F.col("root").alias("a"), F.col("rep").alias("b"))
    )
    return member_edges.unionByName(rep_edges)


def candidate_pairs(salted_bands: DataFrame) -> DataFrame:
    return _star_pairs(salted_bands).dropDuplicates(["a", "b"])


def orphan_rescue_pairs(
    salted_bands: DataFrame,
    verified: DataFrame,
    node_ids: DataFrame,
    per_orphan_cap: int = 4096,
) -> DataFrame:
    """Second-chance candidates for rows the star pass failed to link.

    An ORPHAN is a row that shares at least one multi-member bucket with
    someone (so it *may* have a near-dup) but ended up with zero verified
    edges — typically because its only true neighbor was not the bucket
    representative it was compared against (e.g. a borderline simhash match
    sitting inside a boilerplate mega-bucket). Orphans get one exhaustive
    round: pair with every co-bucket member, capped per orphan and deduped
    against already-verified pairs. True decoys also land here and simply
    fail verification again.

    Scale: orphan count is a small residue (most rows either verify in round
    one or never co-bucket at all), and per-orphan work is capped, so the
    rescue pass is O(orphans · cap) — it buys back the last fraction of a
    percent of recall without reintroducing the quadratic bucket join.

    Shuffle diet (r2): the salted band table is the fat input here, and the
    r1 layout shuffled it three times (a sub-bucket-size window, an anti-join
    against linked ids, then the member join). Orphan-ness is a property of
    the IMAGE, not the band row, so orphan ids are computed on the thin
    distinct image_id projection (map-side combine, ~n rows) and attached
    back with one semi-join (AQE broadcasts the small orphan set); singleton
    sub-buckets need no pre-filter — they cannot produce an (o != m) pair in
    the member join. The big table crosses the wire once, on the bucket key.
    ``node_ids`` is the caller's distinct id list (the t_sigs ids: every
    signature emits >=1 band row, so the sets are identical), which spares a
    hash-aggregate pass over the fat salted table (~50M band rows per 3.2M
    images; measured ~15-20 s of t_rescued at 16c).

    ``verified`` holds every judged pair: verify's output, plus the linked
    edge sets with a literal ``verified=True``. Both reads of it filter on
    that flag, so Catalyst prunes the linked sets from the second. Linked
    ids are the endpoints of verified pairs, taken in one ``explode`` pass.
    The already-judged anti-join needs only the REJECTED pairs: every
    candidate has an orphan side, and an orphan has no verified edge in any
    set.
    """
    linked = (
        verified.where("verified")
        .select(F.explode(F.array("a", "b")).alias("image_id"))
        .distinct()
    )
    orphan_ids = node_ids.select("image_id").join(linked, "image_id", "left_anti")
    orphans = salted_bands.join(orphan_ids, "image_id", "leftsemi").select(
        *_SKEY, F.col("image_id").alias("o")
    )
    members = salted_bands.select(*_SKEY, F.col("image_id").alias("m"))
    cand = (
        orphans.join(members, _SKEY)
        .where(F.col("o") != F.col("m"))
        .select(
            F.least("o", "m").alias("a"),
            F.greatest("o", "m").alias("b"),
            F.col("o"),
        )
        .dropDuplicates(["a", "b"])
    )
    capped = (
        cand.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("o").orderBy("a", "b")),
        )
        .where(F.col("rn") <= per_orphan_cap)
        .select("a", "b")
    )
    # don't re-verify pairs round one already judged (rejected: see above)
    rejected = verified.where(~F.col("verified")).select("a", "b")
    return capped.join(rejected, ["a", "b"], "left_anti")

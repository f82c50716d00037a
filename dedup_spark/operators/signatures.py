"""Signature stage (SURVEY.md §2 B8–B13): one mapInPandas pass that touches
``bytes`` exactly once and emits everything downstream stages need —
content digest, normalized caption, shingle set, MinHash signature, SimHash,
pHash — so the wide binary column is dropped immediately after this stage
(the single biggest I/O lever at 10^12 rows, SURVEY.md §4 column pruning).

All math is batched numpy over Arrow record batches; the permutation and DCT
matrices are built once per Python worker (module-level) and reused across
batches, the Iterator-UDF amortization pattern.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dedup_spark.config import DEFAULT_CONFIG, PipelineConfig
from dedup_spark.functions.hashing import content_digest, to_signed64
from dedup_spark.functions.minhash import band_keys, minhash_batch, perm_params
from dedup_spark.functions.phash import phash_batch
from dedup_spark.functions.simhash import simhash_batch
from dedup_spark.functions.text import normalize_caption, shingle_hashes

SIG_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("sha256", StringType(), False),
        StructField("caption_norm", StringType(), False),
        StructField("n_shingles", IntegerType(), False),
        StructField("shingles", ArrayType(LongType(), False), False),
        StructField("minhash_bands", ArrayType(LongType(), False), False),
        StructField("simhash", LongType(), False),
        StructField("phash", LongType(), True),
        StructField("depth", IntegerType(), False),
    ]
)


def compute_signatures(
    images: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    recompute_phash: bool = True,
) -> DataFrame:
    """images (IMAGES_SCHEMA, pre-validated) → signature table.

    ``recompute_phash=False`` trusts the input's phash column and skips
    decoding entirely (for inputs whose pixels are certified upstream);
    the default decodes and hashes the actual payload (B13).

    A frame with no ``bytes`` column is a text table (image_id, caption):
    its rows carry a NULL ``phash`` — the pHash family is absent, so banding
    and verify skip it — and a digest over the caption alone.
    """
    a_params, b_params = perm_params(cfg)
    k = cfg.shingle_k
    nb, nr = cfg.minhash_bands, cfg.minhash_rows
    ph_size, ph_block = cfg.phash_size, cfg.phash_block
    pixels = "bytes" in images.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict = {}
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            captions = pdf["caption"].tolist()
            norms = [normalize_caption(c) for c in captions]
            sh = [shingle_hashes(s, k, memo) for s in norms]
            sig = minhash_batch(sh, a_params, b_params)
            bands = to_signed64(band_keys(sig, nb, nr))
            sim = to_signed64(simhash_batch(sh))
            if not pixels:
                ph = [None] * n
                digests = [
                    hashlib.sha256(c.encode("utf-8")).hexdigest() for c in captions
                ]
            else:
                raw = pdf["bytes"].tolist()
                if recompute_phash:
                    ph = to_signed64(
                        phash_batch(
                            pdf["fmt"].tolist(), raw,
                            pdf["w"].tolist(), pdf["h"].tolist(),
                            size=ph_size, block=ph_block,
                        )
                    )
                else:
                    ph = pdf["phash"].to_numpy()
                digests = [content_digest(b, c) for b, c in zip(raw, captions)]
            ids = pdf["image_id"].tolist()
            yield pd.DataFrame(
                {
                    "image_id": ids,
                    "sha256": digests,
                    "caption_norm": norms,
                    "n_shingles": [len(x) for x in sh],
                    "shingles": [to_signed64(x).tolist() for x in sh],
                    "minhash_bands": [row.tolist() for row in bands],
                    "simhash": sim,
                    "phash": ph,
                    "depth": [i.count("/") for i in ids],
                }
            )

    # project to exactly what's needed before the UDF: Arrow ships fewer bytes
    cols = ["image_id", "caption"]
    if pixels:
        cols += ["bytes", "w", "h", "fmt"]
        if not recompute_phash:
            cols.append("phash")
    from dedup_spark.session import py_parallelism

    # UDF stages run at half the core count (see session.py_parallelism):
    # coalesce merges scan splits without a shuffle
    src = images.select(*cols).coalesce(py_parallelism(images.sparkSession))
    return src.mapInPandas(run, schema=SIG_SCHEMA)


def depth_col(c: str = "image_id") -> F.Column:
    return F.size(F.split(F.col(c), "/")) - F.lit(1)


__all__ = ["compute_signatures", "SIG_SCHEMA", "depth_col"]

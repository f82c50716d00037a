"""Canonical schemas (BASELINE.json:15 fixes the input table exactly)."""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# input_hint: (image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
#              caption:string, phash:int64)
IMAGES_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("bytes", BinaryType(), False),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
        StructField("fmt", StringType(), False),
        StructField("caption", StringType(), False),
        StructField("phash", LongType(), False),
    ]
)

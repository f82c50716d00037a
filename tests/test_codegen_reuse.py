"""Generated code is compiled once per session: a repeated pass of the same
chain reuses every whole-stage-codegen class the first pass compiled
(session.get_spark's codegen defaults; counted by session.codegen_census)."""

from __future__ import annotations

import time

from dedup_spark.oracle_ref import is_valid
from dedup_spark.session import CODEGEN_CACHE_ENTRIES, codegen_census


def test_session_carries_codegen_defaults(spark):
    """Both values reach the live session. The cache size is a static conf:
    a get_spark that silently reused a session started elsewhere would
    ignore it, and every pass would recompile again."""
    conf = spark.conf
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    assert conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_repeated_text_pass_compiles_nothing_new(spark, golden_table):
    from dedup_spark.operators.textdedup import text_dedup_clusters

    rows = golden_table[[is_valid(r) for _, r in golden_table.iterrows()]]
    df = spark.createDataFrame(
        rows[["image_id", "caption"]].head(400).reset_index(drop=True)
    )
    # the census sees a plan this JVM never ran: the literal is inlined in
    # its generated code
    before = codegen_census(spark)
    spark.range(3).selectExpr(f"id + {time.time_ns() % 10**12} AS x").collect()
    assert codegen_census(spark, since=before)["classes"] > 0

    added = []
    for _ in range(3):
        before = codegen_census(spark)
        text_dedup_clusters(df, "image_id", "caption").select(
            "image_id", "cluster_id"
        ).collect()
        added.append(codegen_census(spark, since=before)["classes"])
    assert max(added[1:]) <= 5, added

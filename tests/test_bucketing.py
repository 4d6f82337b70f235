"""Bucketed co-located join: a digest table stored bucketed on the
join key feeds the incremental-dedup anti-join without an Exchange."""

from __future__ import annotations

import re


def _detail_nodes(plan: str, kind: str) -> int:
    return len(re.findall(rf"\(\d+\) {kind}", plan))


def test_incremental_dedup_against_bucketed_digests(spark, tmp_path_factory):
    """The 100 TB incremental-dedup claim, pinned: with the historical
    digest table stored bucketed on text_hash, the anti-join reads it
    exchange-free — only the (small) batch side shuffles. Broadcast is
    disabled so the bucketed SortMergeJoin path is what's proven."""
    from aws_ipl_data_pipeline_spark.operators.dedup import (
        incremental_dedup,
        prefix_fingerprint,
    )

    docs = spark.createDataFrame(
        [(i, f"doc body number {i % 40} content") for i in range(200)],
        "doc_id long, text string",
    )
    seen = docs.where("doc_id % 3 != 0").select(
        prefix_fingerprint("text").alias("text_hash")
    )
    spark.sql("DROP TABLE IF EXISTS seen_digests")
    seen.write.mode("overwrite").format("parquet").bucketBy(8, "text_hash").sortBy(
        "text_hash"
    ).saveAsTable("seen_digests")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        batch = docs.where("doc_id % 3 = 0")
        novel = incremental_dedup(batch, spark.table("seen_digests"))
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = novel._jdf.queryExecution().explainString(mode)
        assert "SortMergeJoin" in plan and "LeftAnti" in plan
        assert "Bucketed: true" in plan
        # both Exchanges belong to the batch-side aggregation chain; the
        # bucketed digest scan feeds the join directly
        assert _detail_nodes(plan, "Exchange") == 2

        got = {r["text_hash"] for r in novel.collect()}
        want_seen = {r["text_hash"] for r in spark.table("seen_digests").collect()}
        batch_hashes = {
            r[0] for r in batch.select(prefix_fingerprint("text")).collect()
        }
        assert got == batch_hashes - want_seen
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS seen_digests")

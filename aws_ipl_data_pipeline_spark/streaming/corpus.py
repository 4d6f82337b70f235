"""Streaming corpus ingest: the training-data counterpart of the IPL
medallion stream (pipeline.py).

New document files land in a drop directory; each micro-batch is
deduped against everything already admitted (the incremental
batch-vs-corpus flow, operators/dedup.incremental_dedup), quality-
gated, and appended. The admitted-digest table is the only state and
it is tiny relative to the corpus (one 32-char digest per admitted
doc); at 100 TB keep it bucketed by digest so the per-batch anti-join
co-locates.

Exactly-once story: the file source tracks processed files in the
checkpoint; within a batch the digest append happens after the
document append, so a crash between the two re-admits (not loses)
documents on retry, and the admitted table is re-deduped by digest on
read if that matters downstream — same at-least-once-then-dedupe
posture as the reference's bronze layer (ex_match_rb.py:201-213).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_ipl_data_pipeline_spark.operators.dedup import (
    incremental_dedup,
    prefix_fingerprint,
)
from aws_ipl_data_pipeline_spark.sources.readers import local_frame, path_exists


def run_corpus_ingest(
    spark: SparkSession,
    docs_dir: str,
    out_path: str,
    checkpoint_dir: str,
    schema,
    digest_path: str | None = None,
    min_chars: int = 1,
    available_now: bool = True,
):
    """Start the corpus ingest stream; returns the StreamingQuery.

    ``schema`` is the document schema (needs doc_id + text). Quality
    gate: length(trim(text)) >= min_chars. Admitted docs append to
    ``out_path``; their digests append to ``digest_path``.
    """
    digest_path = digest_path or f"{out_path.rstrip('/')}_digests"
    stream = spark.readStream.schema(schema).parquet(docs_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ok = batch_df.where(F.length(F.trim("text")) >= min_chars)
        if path_exists(spark, digest_path):
            seen = spark.read.parquet(digest_path)
        else:
            seen = local_frame(spark, "text_hash string")
        novel_ids = incremental_dedup(ok, seen)
        admitted = ok.join(novel_ids.select("doc_id"), "doc_id")
        # cut lineage so the digest write below can't observe a half-
        # appended out_path through cached file listings
        admitted = admitted.localCheckpoint(eager=True)
        admitted.write.mode("append").parquet(out_path)
        admitted.select(prefix_fingerprint("text").alias("text_hash")).write.mode(
            "append"
        ).parquet(digest_path)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

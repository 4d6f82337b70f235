"""Structured-Streaming incremental pipeline (SURVEY §2.9 ST1-ST4).

The reference's event chain — S3 ObjectCreated → Lambda (bronze JSONL
append+dedupe) → Glue silver (per-match partition overwrite) → Glue gold
(full recompute) (reference ex_match_rb.py:156-236,
ex_match_bs.py:459-492) — becomes ONE Spark app: a file-source
readStream over the raw CSV drop directory whose ``foreachBatch`` runs
the CLI's own layer routines over the micro-batch's matches:

  upsert the batch into the bronze accumulator (``upsert_by_key``)
    → bronze + silver plans over ONLY the affected matches
      (plans/bronze.py, plans/silver.py)
    → ``sources.writers.replace_matches``: the match-grain silver
      replace ``cli silver --replace-where`` runs (the reference's
      late-data policy is overwrite-the-match, not watermarks)
    → ``plans.gold_incremental.refresh_gold``: the gold refresh ``cli
      gold`` runs — a full recompute over silver (the reference's
      behavior), or with gold_mode="incremental" a rewrite of the
      affected matches' partials buckets plus a merge of the skinny
      partials tables

Each write policy therefore lives in one function both callers use,
which is what makes stream ≡ batch-backfill provable
(tests/test_streaming.py). `Trigger.AvailableNow` drains a backlog and
stops — the Lambda-less backfill story.

Scale notes: the file source tracks processed files in the checkpoint
(exactly-once per file, like the reference's per-object Lambda invoke);
each micro-batch shuffles only the matches it saw; the micro-batch is
scanned once for its affected match ids, which double as the emptiness
probe; and the hot path builds no Python-backed frames (see
``refresh_gold``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_ipl_data_pipeline_spark.plans.bronze import to_bronze
from aws_ipl_data_pipeline_spark.plans.gold_incremental import refresh_gold
from aws_ipl_data_pipeline_spark.plans.silver import to_silver
from aws_ipl_data_pipeline_spark.schemas import RAW_DELIVERIES
from aws_ipl_data_pipeline_spark.sources.readers import read_table
from aws_ipl_data_pipeline_spark.sources.writers import (
    TABLE_FORMAT,
    replace_matches,
    upsert_by_key,
)


def run_incremental_pipeline(
    spark: SparkSession,
    raw_dir: str,
    silver_path: str,
    gold_dir: str,
    meta_df: DataFrame,
    players_df: DataFrame | None,
    checkpoint_dir: str,
    bronze_path: str | None = None,
    available_now: bool = True,
    gold_mode: str = "full",
):
    """Start the raw→bronze→silver→gold incremental stream.

    Returns the StreamingQuery; with ``available_now`` it processes the
    current backlog and finishes (use ``query.awaitTermination()``).

    ``gold_mode``: ``"full"`` (default) recomputes every gold table
    from full silver each micro-batch — the reference's literal
    behavior (ex_match_sg.py:323-347). ``"incremental"`` maintains
    per-(match, key) partial-aggregate tables under
    ``{gold_dir}/_partials_*`` (plans/gold_incremental.py): only the
    affected matches' partial partitions are rewritten per batch, and
    gold merges the skinny partials table instead of rescanning silver
    — per-batch cost O(batch) + O(keys × matches), not O(silver).
    Both modes produce identical gold tables
    (tests/test_gold_incremental.py).
    """
    if gold_mode not in ("full", "incremental"):
        raise ValueError(f"gold_mode must be 'full' or 'incremental': {gold_mode!r}")
    bronze_path = bronze_path or f"{silver_path.rstrip('/')}_bronze_acc"
    raw_stream = (
        spark.readStream.schema(RAW_DELIVERIES)
        .option("header", True)
        .option("maxFilesPerTrigger", 8)
        .csv(raw_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the affected match ids double as the emptiness probe: the
        # micro-batch is scanned once here, not once more by isEmpty()
        # (bounded collect, O(#matches per batch))
        affected = [r[0] for r in batch_df.select("match").distinct().collect()]
        if not affected:
            return
        # ST2: accumulate raw deliveries per match (scrape files overlap;
        # the reference appends + dedupes bronze JSONL before rebuilding,
        # ex_match_rb.py:201-213). A partition-scoped append+dedupe
        # upsert: only the batch's match partitions are read (dynamic
        # partition pruning off the broadcast of the batch's match set),
        # merged, and dynamically overwritten — per-batch work is
        # O(batch + touched partitions) even on the parquet path. A read
        # error other than "path missing" FAILS the micro-batch so the
        # checkpoint retries it (upsert_by_key guarantees this).
        upsert_by_key(
            spark,
            batch_df,
            bronze_path,
            keys=list(batch_df.columns),
            partition_by=["match"],
            schema=RAW_DELIVERIES,
        )
        # the silver rebuild reads back ONLY the affected partitions
        # (partition-pruned scan), in the format every managed table is
        # written in (TABLE_FORMAT)
        acc = read_table(
            spark, bronze_path, fmt=TABLE_FORMAT, schema=RAW_DELIVERIES
        ).where(F.col("match").isin(affected))

        # ST3: rebuild the affected matches end-to-end from accumulated
        # raw; latest scrape wins for the whole match (the match-grain
        # replace the CLI's --replace-where runs too)
        silver = to_silver(to_bronze(acc), meta_df, players_df)
        replace_matches(spark, silver, silver_path, affected)
        # ST4: the gold refresh `cli gold` runs (schema pinned on the
        # parquet read-back so both modes see identical partition-column
        # types; inference could retype an all-numeric match id)
        refresh_gold(
            spark,
            silver_path,
            gold_dir,
            mode=gold_mode,
            affected=affected,
            schema=silver.schema,
            versioned=False,
        )

    writer = (
        raw_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

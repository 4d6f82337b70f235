"""The batch sessionization and Spark's native streaming
session_window must agree when the same events arrive as file
micro-batches."""

from __future__ import annotations

import json
import os

import pytest

EV_SCHEMA = "event_id long, ts timestamp, user_id long, value double"


def _write_jsonl(dirname: str, i: int, rows, cols) -> None:
    os.makedirs(dirname, exist_ok=True)
    with open(f"{dirname}/f{i}.json", "w") as f:
        for row in rows:
            f.write(json.dumps(dict(zip(cols, row))) + "\n")


@pytest.mark.slow
def test_batch_sessionize_equals_streaming_session_window(spark, tmp_path_factory):
    """Cross-implementation equivalence: the batch lag/prefix-sum
    sessionization and Spark's NATIVE streaming session_window must
    agree on session boundaries, event counts, and value sums for the
    same gap — two independent codepaths, one semantics."""
    from pyspark.sql import functions as F

    from aws_ipl_data_pipeline_spark.queries import _sessionize_frame

    base = str(tmp_path_factory.mktemp("sesseq"))
    src = f"{base}/src"
    cols = ["event_id", "ts", "user_id", "value"]
    rows = [
        [
            (1, "2024-03-01 10:00:00", 1, 1.0),
            (2, "2024-03-01 11:00:00", 1, 2.0),   # 1h gap: same session
            (3, "2024-03-01 16:00:00", 1, 4.0),   # 5h gap: NEW session
        ],
        [
            (4, "2024-03-01 10:30:00", 2, 8.0),
            (5, "2024-03-01 19:00:00", 1, 16.0),  # 3h after 16:00: same
        ],
    ]
    for i, b in enumerate(rows):
        _write_jsonl(src, i, b, cols)

    stream = (
        spark.readStream.schema(EV_SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    )
    q = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "4 hours").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .writeStream.format("memory")
        .queryName("native_sessions")
        .outputMode("complete")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    from datetime import datetime

    batch_df = spark.createDataFrame(
        [
            (e, datetime.fromisoformat(ts), u, v, "{}")
            for b in rows
            for e, ts, u, v in b
        ],
        "event_id long, ts timestamp, user_id long, value double, props string",
    )
    ours = {
        (r["user_id"], r["start_us"]): (r["n_events"], r["total_value"])
        for r in _sessionize_frame(batch_df).collect()
    }
    native = {
        (r["user_id"], int(r["w"]["start"].timestamp() * 1_000_000)): (
            r["n_events"],
            r["total_value"],
        )
        for r in spark.table("native_sessions").collect()
    }
    # session_window's end extends gap past the last event, but the
    # START and membership must agree exactly with the batch operator
    assert ours == native
    assert len(ours) == 3  # user1 x2 sessions, user2 x1

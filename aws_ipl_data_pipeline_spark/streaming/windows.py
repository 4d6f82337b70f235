"""Event-time stream operators (ST6): watermarked dedup, session
windows and fixed/sliding windows over an events frame. Each works
identically over a batch or a streaming frame, so a stream's output can
be checked against a batch run over the same rows."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming ingest dedup with BOUNDED state: duplicate keys arriving
    within the watermark horizon are dropped, and expired keys are
    evicted from the state store — unlike a global `dropDuplicates`,
    whose streaming state grows without bound. This is the ST2
    append+dedupe upsert (ex_match_rb.py:201-213) recast for an
    unbounded stream: at 100 TB/day the state holds only the watermark
    window's keys."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def sessionized_event_rollup(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """ST6 extension: DYNAMIC-gap session windows with a watermark —
    per-user sessions close when no event arrives within ``gap``.
    Works identically over a batch or streaming frame; in a stream the
    state store keeps one open session per active key and MERGES
    adjacent sessions when a bridging event arrives in a later
    micro-batch (the semantics fixed-width windows cannot express).
    Append mode emits a session only after the watermark passes its
    close — late-but-in-watermark events still extend or merge it.

    total_value is summed in integer CENTS (0.01 quantum) and divided
    once on output: a double sum's accumulation order differs between
    streaming state merges and batch execution, so summing doubles
    would break the advertised stream≡batch equality on half-boundary
    values — the same integer-quantization discipline every exact
    operator in the repo uses. Sub-cent input precision is rounded at
    the quantum."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
                "total_value"
            ),
        )
        .select("w.start", "w.end", "user_id", "n_events", "total_value")
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """ST6 extension: event-time windowed aggregation with a watermark —
    works identically over a batch or streaming events frame.
    total_value sums integer cents and divides once on output (see
    sessionized_event_rollup — double-sum order differs between state
    merges and batch execution)."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
                "total_value"
            ),
        )
        .select("w.start", "w.end", "event_type", "n", "total_value")
    )

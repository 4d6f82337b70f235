"""Skew mitigation for hot-key aggregation.

At 100 TB a handful of hot keys (one viral document source, one
dominant event_type) can pin a whole stage on one reducer. AQE's
skewedJoin handles *join* skew automatically when partitions exceed
the skew threshold; the aggregation case needs a rewrite, pure
DataFrame:

* salted_aggregate — two-phase groupBy: partial-aggregate on
  (key, salt) so a hot key fans out over ``salt_buckets`` reducers,
  then final-aggregate on key. Correct for any algebraic aggregate
  (sum/count/min/max expressed as sum-of-partials); the result is
  bit-identical to the direct groupBy.

Reference has no skew handling (single-process pandas,
pipeline_2026/ex_match_sg.py) — this is the scale path the engine adds.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, salt_buckets: int, salt_col: str = "_salt") -> DataFrame:
    """Deterministic per-row salt in [0, salt_buckets): a hash of the
    whole row's partition-stable spark_partition_id + monotonic id would
    not be stable across retries, so salt from xxhash64 of all columns
    (content-derived, replay-safe). Caveat: byte-identical duplicate
    rows share a salt — if the hot key's rows are all identical,
    dedupe/count them first or switch to F.rand(seed)."""
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64(*df.columns), F.lit(salt_buckets)).cast("int")
    )


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    sums: dict[str, Column],
    salt_buckets: int = 8,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``sums`` maps output alias -> column expression whose SUM is wanted
    (COUNT(*) = sum of lit(1)). Phase 1 groups by (keys..., salt) —
    map-side combine already shrinks each partition to ≤ buckets·|keys|
    rows; phase 2 sums the partials per key. Equivalent to
    ``df.groupBy(keys).agg(sum(expr))`` for any input distribution.
    """
    salted = with_salt(df, salt_buckets)
    partial = salted.groupBy(*keys, "_salt").agg(
        *[F.sum(expr).alias(alias) for alias, expr in sums.items()]
    )
    return partial.groupBy(*keys).agg(
        *[F.sum(alias).alias(alias) for alias in sums]
    )

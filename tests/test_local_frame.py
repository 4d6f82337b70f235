"""sources.readers.local_frame: driver-side rows as a JVM LocalRelation.

``spark.createDataFrame`` over a Python list builds a Python-RDD leaf
(``LogicalRDD``) whose every evaluation starts Python worker tasks. The
live-update hot path builds its small frames with ``local_frame``
instead; the scoped CLI and stream runs that prove it builds none are
``test_cli_gold_incremental_equals_full`` and
``test_incremental_stream_gold_equals_batch`` (``forbid_python_rows``)."""

from __future__ import annotations

import pytest

from aws_ipl_data_pipeline_spark.schemas import SILVER_DELIVERIES
from aws_ipl_data_pipeline_spark.sources.readers import (
    local_frame,
    read_partition_dirs,
)

ODD_IDS = ["a'b", "m=1", "50%", "a/b", "ünï→😀", "", "''", None]


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_local_frame_is_a_jvm_relation_and_round_trips(spark, tmp_path):
    df = local_frame(spark, "match string", [(m,) for m in ODD_IDS])
    assert "LogicalRDD" not in _analyzed(df)
    assert "LocalRelation" in _analyzed(df)
    assert [r[0] for r in df.collect()] == ODD_IDS

    # an empty frame keeps the exact schema, nullability included; a
    # scoped silver read of retracted matches (no dirs left) is one
    empty = read_partition_dirs(
        spark, str(tmp_path), "match", ["gone"], schema=SILVER_DELIVERIES
    )
    assert empty.schema == SILVER_DELIVERIES
    assert empty.count() == 0
    assert "LogicalRDD" not in _analyzed(empty)

    mixed = local_frame(spark, "s string, i int, d double, b boolean",
                        [("x", 1, 2.5, True), (None, None, None, None)])
    assert mixed.collect() == [("x", 1, 2.5, True), (None, None, None, None)]
    with pytest.raises(TypeError):
        local_frame(spark, "n bigint", [(1,)])

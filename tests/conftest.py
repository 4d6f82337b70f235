from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from aws_ipl_data_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def forbid_python_rows(monkeypatch):
    """Returns an arming call: from then on in the test,
    ``createDataFrame`` over Python rows (a Python-RDD leaf whose every
    evaluation starts Python worker tasks) raises. Build fixture inputs
    and expected frames before arming it."""
    orig = SparkSession.createDataFrame

    def guarded(self, data, *args, **kwargs):
        if isinstance(data, (list, tuple)):
            raise AssertionError(
                "createDataFrame over Python rows on a hot path; "
                "use sources.readers.local_frame"
            )
        return orig(self, data, *args, **kwargs)

    return lambda: monkeypatch.setattr(SparkSession, "createDataFrame", guarded)

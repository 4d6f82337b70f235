"""Run every registered query against its DuckDB oracle at sf0.001 —
the same gate the driver applies at sf0.01."""

from __future__ import annotations

import os

import pytest

from aws_ipl_data_pipeline_spark.queries import REGISTRY
from tests.oracle_check import compare, duck_con

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

ORACLE_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle)
# kmeans_lloyd runs full Lloyd iterations (~19 s) — slow-marked so the
# fast inner loop keeps the other rows-only smoke checks
ROWS_ONLY_QUERIES = [
    pytest.param(n, marks=pytest.mark.slow) if n == "kmeans_lloyd" else n
    for n in sorted(n for n, q in REGISTRY.items() if not q.oracle)
]


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF_DIR)
    yield c
    c.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(spark, con, name):
    q = REGISTRY[name]
    ok, msg = compare(q.fn(spark, SF_DIR), con, q.oracle)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_runs(spark, name):
    df = REGISTRY[name].fn(spark, SF_DIR)
    assert df.count() >= 0


def test_driver_window_ordering_invariants():
    """The external driver records rows for registry[0:50] only, so the
    ordering layer must stay sound: no duplicate names in
    _DRIVER_FIRST (a dup would silently shrink the window), every name
    resolves (also enforced at import), and the reordered registry is
    a permutation of the registered queries with the window fully
    oracle-or-intentionally-rows-only."""
    from aws_ipl_data_pipeline_spark.queries import _DRIVER_FIRST, REGISTRY

    assert len(_DRIVER_FIRST) == len(set(_DRIVER_FIRST)), "duplicate in _DRIVER_FIRST"
    assert set(_DRIVER_FIRST) <= set(REGISTRY)
    names = list(REGISTRY)
    assert len(names) == len(set(names))
    # the window head must follow _DRIVER_FIRST exactly
    assert names[: len(_DRIVER_FIRST)] == _DRIVER_FIRST


@pytest.mark.parametrize("first", ["queries", "queries_ipl"])
def test_registry_order_independent_of_import_order(first):
    """Either query module can be imported first (no JVM is started), and
    both import orders give the same registry order, _DRIVER_FIRST head
    included."""
    import json
    import subprocess
    import sys

    code = (
        "import importlib, json\n"
        f"importlib.import_module('aws_ipl_data_pipeline_spark.{first}')\n"
        "from aws_ipl_data_pipeline_spark.queries import REGISTRY\n"
        "print(json.dumps(list(REGISTRY)))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.splitlines()[-1]) == list(REGISTRY)

"""Static guard (no Spark): the pipeline's runtime modules and the IPL
queries build no frames with ``createDataFrame`` over a literal list,
tuple or comprehension, or over a name bound to one in the module. In
classic PySpark such a frame is a Python-RDD leaf, and every evaluation
of it starts Python worker tasks; build it with
``sources.readers.local_frame`` (a JVM ``LocalRelation``) instead."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "aws_ipl_data_pipeline_spark"
SCANNED = ["streaming", "plans", "sources", "cli.py", "queries_ipl.py"]
LITERALS = (ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp, ast.SetComp)


def _files():
    for entry in SCANNED:
        path = PKG / entry
        yield from sorted(path.rglob("*.py")) if path.is_dir() else [path]


def python_row_frames(source: str) -> list[int]:
    """Line numbers of ``createDataFrame(<literal rows>, ...)`` calls,
    the rows given inline or as a name the module binds to literal
    rows."""
    tree = ast.parse(source)
    bound = {
        target.id
        for node in ast.walk(tree)
        if isinstance(node, ast.Assign) and isinstance(node.value, LITERALS)
        for target in node.targets
        if isinstance(target, ast.Name)
    }
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
        and node.args
        and (
            isinstance(node.args[0], LITERALS)
            or (isinstance(node.args[0], ast.Name) and node.args[0].id in bound)
        )
    ]


def test_guard_flags_literal_rows():
    src = (
        "a = spark.createDataFrame([], 's string')\n"
        "b = spark.createDataFrame([(m,) for m in ms], 'm string')\n"
        "c = spark.createDataFrame(((1,),), 'n int')\n"
        "d = spark.createDataFrame(pdf)\n"
    )
    assert python_row_frames(src) == [1, 2, 3]


def test_guard_flags_names_bound_to_literal_rows():
    src = (
        "ROWS = [('M1', 1)]\n"
        "def f(spark, pdf):\n"
        "    rows = [(r,) for r in ROWS]\n"
        "    a = spark.createDataFrame(ROWS, 'm string, n int')\n"
        "    b = spark.createDataFrame(rows, 'm string')\n"
        "    c = spark.createDataFrame(pdf)\n"
    )
    assert python_row_frames(src) == [4, 5]


def test_runtime_modules_build_no_python_row_frames():
    found = [
        f"{path.relative_to(PKG.parent)}:{line}"
        for path in _files()
        for line in python_row_frames(path.read_text())
    ]
    assert not found, (
        "createDataFrame over literal Python rows builds a Python-RDD leaf "
        "(Python worker tasks on every evaluation); use "
        f"sources.readers.local_frame instead: {found}"
    )

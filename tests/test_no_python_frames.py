"""Static guard (no Spark): the pipeline's runtime modules, the query
battery and the operators build no frames with ``createDataFrame`` over
a literal list, tuple or comprehension, or over a name bound to one in
the module. In classic PySpark such a frame is a Python-RDD leaf, and
every evaluation of it starts Python worker tasks; build it with
``sources.readers.local_frame`` (a JVM ``LocalRelation``) instead.

``local_frame`` takes string, int, double and boolean columns only, so
the few frames with other column types are allowlisted by enclosing
function, one frame per function, each with its reason."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "aws_ipl_data_pipeline_spark"
SCANNED = [
    "streaming",
    "plans",
    "sources",
    "operators",
    "cli.py",
    "queries.py",
    "queries_ipl.py",
]
ARRAY_COLUMN = "an array column, which local_frame cannot build"
LONG_VALUES = "bigint values from a trainer, which local_frame cannot build"
ALLOWED = {
    "queries.py::ann_probe_recall_curve": ARRAY_COLUMN,
    "queries.py::bpe_train_merges_table": LONG_VALUES,
    "queries.py::unigram_lm_train": LONG_VALUES,
    "operators/pq.py::ivfpq_topk_rerank": ARRAY_COLUMN,
    "operators/similarity.py::batch_ivf_topk": ARRAY_COLUMN,
}
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


def _enclosing_def(tree: ast.Module, line: int) -> str | None:
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if node.lineno <= line <= node.end_lineno:
                return node.name
    return None


def test_runtime_modules_build_no_python_row_frames():
    by_def: dict[str, list[str]] = {}
    for path in _files():
        source = path.read_text()
        tree = ast.parse(source)
        rel = path.relative_to(PKG).as_posix()
        for line in python_row_frames(source):
            fn = f"{rel}::{_enclosing_def(tree, line)}"
            by_def.setdefault(fn, []).append(f"{rel}:{line}")
    assert set(ALLOWED) <= set(by_def), (
        "allowlisted functions that no longer build such a frame: "
        f"{sorted(set(ALLOWED) - set(by_def))}"
    )
    found = [
        site
        for fn, lines in sorted(by_def.items())
        for site in (lines[1:] if fn in ALLOWED else lines)
    ]
    assert not found, (
        "createDataFrame over literal Python rows builds a Python-RDD leaf "
        "(Python worker tasks on every evaluation); use "
        f"sources.readers.local_frame instead: {found}"
    )

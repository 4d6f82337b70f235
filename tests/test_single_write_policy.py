"""Static guard (no Spark): the stream and the CLI share one medallion
write policy. ``cli.py`` and ``streaming/pipeline.py`` call the shared
routines instead of forking them:

- ``plans.gold_incremental.refresh_gold`` owns the gold refresh in both
  modes (the gold builders, the ``_partials_*`` paths, the gold writes);
- ``sources.writers.replace_matches`` owns the match-grain silver
  replace (the Delta-or-parquet branch);
- ``sources.writers.TABLE_FORMAT`` is the one table-format choice in the
  package;
- ``plans/gold.py``'s ``*_parts`` are the one gold aggregation of
  silver: ``plans/gold_incremental.py`` only packs, stores and unpacks
  them, and neither caller aggregates at all."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "aws_ipl_data_pipeline_spark"
CALLERS = ["cli.py", "streaming/pipeline.py"]
GOLD_BUILDERS = {"batsman_stats", "bowler_stats", "team_stats", "tournament_standings"}
NO_AGGREGATION = ["plans/gold_incremental.py", *CALLERS]
HINT = (
    "use plans.gold_incremental.refresh_gold for gold, "
    "sources.writers.replace_matches for the silver match replace and "
    "sources.writers.TABLE_FORMAT for the table format"
)


def _docstrings(tree: ast.AST) -> set[int]:
    return {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }


def forked_policy(source: str) -> list[str]:
    """What a caller module does that belongs to the shared routines:
    a ``_partials_`` string literal (docstrings aside), a reference to
    ``HAVE_DELTA``, or an import of a full-recompute gold builder."""
    tree = ast.parse(source)
    docs = _docstrings(tree)
    found = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "_partials_" in node.value
            and id(node) not in docs
        ):
            found.append((node.lineno, "_partials_ literal"))
        elif (isinstance(node, ast.Name) and node.id == "HAVE_DELTA") or (
            isinstance(node, ast.Attribute) and node.attr == "HAVE_DELTA"
        ):
            found.append((node.lineno, "HAVE_DELTA"))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                if alias.name == "HAVE_DELTA":
                    found.append((node.lineno, "HAVE_DELTA"))
                elif alias.name.rsplit(".", 1)[-1] in GOLD_BUILDERS:
                    found.append((node.lineno, f"imports {alias.name}"))
    return [f"{line}: {what}" for line, what in sorted(found)]


def aggregations(source: str) -> list[int]:
    """Line numbers of ``.groupBy(`` and ``.agg(`` calls."""
    return sorted(
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("groupBy", "agg")
    )


def format_choices(source: str) -> list[int]:
    """Line numbers of ``"delta" if HAVE_DELTA else "parquet"``."""
    return sorted(
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.IfExp)
        and isinstance(node.test, ast.Name)
        and node.test.id == "HAVE_DELTA"
        and isinstance(node.body, ast.Constant)
        and node.body.value == "delta"
        and isinstance(node.orelse, ast.Constant)
        and node.orelse.value == "parquet"
    )


def test_guard_flags_forks():
    src = (
        '"""Docs may name {gold_dir}/_partials_*."""\n'
        "from x.writers import HAVE_DELTA, delete_path\n"
        "from x.plans.gold import team_stats\n"
        'fmt = "delta" if HAVE_DELTA else "parquet"\n'
        'delete_path(spark, f"{gold_dir}/_partials_{p}")\n'
        "ok = writers.HAVE_DELTA\n"
    )
    assert forked_policy(src) == [
        "2: HAVE_DELTA",
        "3: imports team_stats",
        "4: HAVE_DELTA",
        "5: _partials_ literal",
        "6: HAVE_DELTA",
    ]
    assert format_choices(src) == [4]


def test_stream_and_cli_share_the_write_policy():
    found = [
        f"{entry}:{hit}"
        for entry in CALLERS
        for hit in forked_policy((PKG / entry).read_text())
    ]
    assert not found, f"the medallion write policy is forked ({HINT}): {found}"


def test_one_table_format_choice():
    found = [
        f"{path.relative_to(PKG.parent)}:{line}"
        for path in sorted(PKG.rglob("*.py"))
        for line in format_choices(path.read_text())
    ]
    assert len(found) <= 1, f"table-format choice repeated ({HINT}): {found}"


def test_guard_flags_aggregations():
    src = (
        "a = df.groupBy('match').agg(F.sum('runs'))\n"
        "b = groupBy(df)\n"
        "c = df.agg(F.max('runs'))\n"
    )
    assert aggregations(src) == [1, 1, 3]


def test_gold_aggregates_silver_in_one_place():
    found = [
        f"{entry}:{line}"
        for entry in NO_AGGREGATION
        for line in aggregations((PKG / entry).read_text())
    ]
    assert not found, (
        "a second copy of the gold aggregation: per-(match, key) sums belong "
        "in plans/gold.py's *_parts (batsman_parts, bowler_parts, team_parts, "
        "standings_parts) and their merge in its *_from_parts; "
        f"plans/gold_incremental.py only packs and unpacks them: {found}"
    )

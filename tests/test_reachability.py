"""Static guard (no Spark): every top-level name the package defines is
reached from an entry point, so code that only tests call does not
accumulate in the package.

The entry points are ``cli.main``, ``streaming.run_incremental_pipeline``,
every ``@register``-decorated query, and everything ``bench.py``,
``__spark_entry__.py`` and ``medbench/`` (its tests aside) name. A
package module's top-level statements that are not definitions (a call
at import time, say) run whenever the module is imported and count as
reached too. From there a reached definition reaches every top-level
name its body (decorators, defaults and annotations included) names,
as a bare name, an attribute or through an ``import ... as`` alias.
Names are matched by spelling, not by module, which can only
over-count what is reached. ``__init__.py`` re-exports reach nothing:
a name that only an ``__init__`` imports is unreached.

A test oracle belongs in ``tests/`` (``tests/oracles.py``); a helper no
entry point calls is wired into one or deleted. The allowlist names the
few exceptions, each with its reason."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "aws_ipl_data_pipeline_spark"
ENTRY_POINTS = {"cli.py": {"main"}, "streaming/pipeline.py": {"run_incremental_pipeline"}}
REGISTER = "register"
ALLOWLIST = {
    "__init__.py::__version__": "package metadata",
    "sources/versioned.py::vacuum_snapshots": (
        "retention for `cli gold --versioned` snapshots; ROADMAP direction 2 "
        "wires it into `cli maintain`"
    ),
}
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _top_level(body: list[ast.stmt]):
    """(names, node) per top-level statement; ``if``/``try`` blocks at
    module level are walked into (definitions behind an import guard)."""
    for node in body:
        if isinstance(node, DEFS):
            yield [node.name], node
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names = [
                n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)
            ]
            yield names, node
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        elif isinstance(node, (ast.If, ast.Try)):
            blocks = [node.body, node.orelse]
            if isinstance(node, ast.Try):
                blocks += [h.body for h in node.handlers] + [node.finalbody]
            if isinstance(node, ast.If):
                yield [], node.test
            for block in blocks:
                yield from _top_level(block)
        else:
            yield [], node


def _names(node: ast.AST) -> set[str]:
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def _aliases(tree: ast.AST) -> dict[str, str]:
    return {
        alias.asname: alias.name.rsplit(".", 1)[-1]
        for node in ast.walk(tree)
        if isinstance(node, (ast.Import, ast.ImportFrom))
        for alias in node.names
        if alias.asname
    }


def _is_registered(node: ast.AST) -> bool:
    return isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and any(
        REGISTER in _names(d) for d in node.decorator_list
    )


def unreached(
    package: dict[str, str],
    roots: list[str],
    entry_points: dict[str, set[str]],
) -> list[str]:
    """``module::name`` of every top-level name in ``package`` (module
    path → source) that ``roots`` (sources whose every name counts) and
    ``entry_points`` (module path → names) do not reach."""
    sites: dict[str, list[str]] = {}  # name -> modules defining it
    uses: dict[str, set[str]] = {}  # name -> names its definitions use
    aliases: dict[str, str] = {}
    frontier: set[str] = set()
    for source in roots:
        tree = ast.parse(source)
        aliases.update(_aliases(tree))
        frontier |= _names(tree)
    for module, source in package.items():
        tree = ast.parse(source)
        aliases.update(_aliases(tree))
        for names, node in _top_level(tree.body):
            if not names:
                frontier |= _names(node)
            elif _is_registered(node):
                frontier.update(names)
            for name in names:
                sites.setdefault(name, []).append(module)
                uses.setdefault(name, set()).update(_names(node))
        frontier |= entry_points.get(module, set())
    reached: set[str] = set()
    while frontier:
        name = frontier.pop()
        reached.add(name)
        frontier |= (uses.get(name, set()) | {aliases.get(name, name)}) - reached
    return sorted(
        {
            f"{module}::{name}"
            for name, modules in sites.items()
            if name not in reached
            for module in modules
        }
    )


def _package() -> dict[str, str]:
    return {
        path.relative_to(PKG).as_posix(): path.read_text()
        for path in sorted(PKG.rglob("*.py"))
    }


def _roots() -> list[str]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"] + [
        path
        for path in sorted((ROOT / "medbench").rglob("*.py"))
        if "tests" not in path.relative_to(ROOT / "medbench").parts
    ]
    return [path.read_text() for path in files]


def test_guard_flags_unreferenced_defs():
    package = {
        "cli.py": "def main():\n    helper()\n",
        "ops.py": (
            "def helper():\n    return inner()\n"
            "def inner():\n    return 1\n"
            "def orphan():\n    return inner()\n"
            "ORPHAN_TABLE = {'k': orphan}\n"
        ),
    }
    assert unreached(package, [], {"cli.py": {"main"}}) == [
        "ops.py::ORPHAN_TABLE",
        "ops.py::orphan",
    ]


def test_guard_follows_registrations_module_calls_and_aliases():
    package = {
        "queries.py": (
            "@register('q')\ndef q(spark):\n    return _build(spark)\n"
            "def _build(spark):\n    return spark\n"
            "def _reorder():\n    pass\n"
            "_reorder()\n"
        ),
        "ops.py": (
            "from pkg.queries import _build as build_alias\n"
            "def aliased():\n    return build_alias\n"
        ),
    }
    # a registered query, a def called only at import time and a def
    # reached from a reached def are all reached; an alias reaches the
    # aliased name, not the reverse
    assert unreached(package, [], {}) == ["ops.py::aliased"]
    assert unreached(package, ["aliased()"], {}) == []


def test_guard_ignores_init_reexports():
    package = {
        "__init__.py": "from pkg.ops import only_exported  # noqa: F401\n",
        "ops.py": "def only_exported():\n    pass\n",
    }
    assert unreached(package, [], {}) == ["ops.py::only_exported"]


def test_package_has_no_unreached_names():
    found = [
        name
        for name in unreached(_package(), _roots(), ENTRY_POINTS)
        if name not in ALLOWLIST
    ]
    assert not found, (
        "no entry point (cli.main, the stream, a registered query, bench.py, "
        "__spark_entry__.py, medbench/) reaches these package names; wire each "
        "into an entry point, move a test oracle to tests/oracles.py, or delete "
        f"it: {found}"
    )

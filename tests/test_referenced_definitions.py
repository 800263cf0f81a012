"""Every top-level function, class and constant of the package is named
somewhere: in the package, ``tests/``, ``tools/``, ``perfbench/`` or
``bench.py``. A definition that nothing names is dead code."""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).parent.parent
PKG = REPO / "bigdata_project_spark"
# the registry reads each module's QUERIES with getattr; Python itself
# reads dunders such as __version__ and __all__
EXEMPT = {"QUERIES"}


def _defined(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            yield from (n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name))


def _referenced(tree: ast.Module):
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield node.name.split(".")[-1]


def test_every_package_definition_is_referenced():
    sources = [
        *PKG.rglob("*.py"),
        *(REPO / "tests").rglob("*.py"),
        *(REPO / "tools").rglob("*.py"),
        *(REPO / "perfbench").rglob("*.py"),
        REPO / "bench.py",
    ]
    trees = {path: ast.parse(path.read_text()) for path in sources}
    named = {name for tree in trees.values() for name in _referenced(tree)}
    dead = sorted(
        f"{path.relative_to(REPO)}::{name}"
        for path, tree in trees.items()
        if path.is_relative_to(PKG)
        for name in _defined(tree)
        if name not in named and name not in EXEMPT and not name.startswith("__")
    )
    assert not dead, f"package definitions that nothing names: {dead}"

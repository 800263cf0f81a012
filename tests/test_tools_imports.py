"""Guard the scripts in tools/ against rot: every name they import from
the package must still exist, and none may reach into the registry's
private names (those change without notice)."""

from __future__ import annotations

import ast
import importlib
import pathlib

import pytest

PKG = "bigdata_project_spark"
TOOLS = sorted((pathlib.Path(__file__).parent.parent / "tools").glob("*.py"))


def _resolves(module: str, name: str) -> bool:
    if hasattr(importlib.import_module(module), name):
        return True
    try:
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


@pytest.mark.parametrize("tool", TOOLS, ids=lambda p: p.name)
def test_tool_imports_resolve_and_skip_registry_privates(tool):
    tree = ast.parse(tool.read_text())
    missing, private = [], []
    registry_names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == PKG:
            for alias in node.names:
                if not _resolves(node.module, alias.name):
                    missing.append(f"{node.module}.{alias.name}")
                if f"{node.module}.{alias.name}" == f"{PKG}.registry":
                    registry_names.add(alias.asname or alias.name)
                elif node.module == f"{PKG}.registry" and alias.name.startswith("_"):
                    private.append(alias.name)
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG:
                    importlib.import_module(alias.name)
                    if alias.name == f"{PKG}.registry" and alias.asname:
                        registry_names.add(alias.asname)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and node.attr.startswith("_")
            and ast.unparse(node.value) in registry_names | {f"{PKG}.registry"}
        ):
            private.append(node.attr)
    assert not missing, f"{tool.name} imports names the package no longer has: {missing}"
    assert not private, f"{tool.name} touches private registry names: {private}"

"""Guard the scripts in tools/ against rot: every name they import from
the package, or from perfbench's ``run``, ``layers`` and ``stats``
modules, must still exist, and none may reach into the registry's private
names (those change without notice). Every ``tools/<file>`` that code,
tests or scripts cite must exist."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import pathlib
import re

import pytest

PKG = "bigdata_project_spark"
REPO = pathlib.Path(__file__).parent.parent
TOOLS = sorted((REPO / "tools").glob("*.py"))
BENCH_MODULES = ("run", "layers", "stats")
# A cited path; ``*`` is a glob, a ``{...}`` template is a writer's output
# name, not a citation.
TOOLS_PATH = re.compile(r"tools/[\w.*-]+(?![\w{])")


def _bench_names(module: str) -> set[str]:
    """Top-level names of ``perfbench/<module>.py``, read without importing
    it: perfbench puts its own directory on ``sys.path``."""
    names = set()
    for node in ast.parse((REPO / "perfbench" / f"{module}.py").read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name))
    return names


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
    bench_aliases = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module in BENCH_MODULES:
            have = _bench_names(node.module)
            missing += [f"{node.module}.{a.name}" for a in node.names if a.name not in have]
        elif isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == PKG:
            for alias in node.names:
                if not _resolves(node.module, alias.name):
                    missing.append(f"{node.module}.{alias.name}")
                if f"{node.module}.{alias.name}" == f"{PKG}.registry":
                    registry_names.add(alias.asname or alias.name)
                elif node.module == f"{PKG}.registry" and alias.name.startswith("_"):
                    private.append(alias.name)
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name in BENCH_MODULES:
                    bench_aliases[alias.asname or alias.name] = alias.name
                elif alias.name.split(".")[0] == PKG:
                    importlib.import_module(alias.name)
                    if alias.name == f"{PKG}.registry" and alias.asname:
                        registry_names.add(alias.asname)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in bench_aliases
            and node.attr not in _bench_names(bench_aliases[node.value.id])
        ):
            missing.append(f"{bench_aliases[node.value.id]}.{node.attr}")
        if (
            isinstance(node, ast.Attribute)
            and node.attr.startswith("_")
            and ast.unparse(node.value) in registry_names | {f"{PKG}.registry"}
        ):
            private.append(node.attr)
    assert not missing, f"{tool.name} imports names the package or perfbench no longer has: {missing}"
    assert not private, f"{tool.name} touches private registry names: {private}"


def test_cited_tools_files_exist():
    sources = [*(REPO / PKG).rglob("*.py"), *(REPO / "tests").rglob("*.py"), *TOOLS]
    cited = {
        (src.relative_to(REPO), path.rstrip("."))
        for src in sources
        for path in TOOLS_PATH.findall(src.read_text())
    }
    assert cited
    missing = sorted(f"{src}: {path}" for src, path in cited if not list(REPO.glob(path)))
    assert not missing, f"cited tools/ files that do not exist: {missing}"


def _load(script: str):
    """The script at ``REPO/script``, imported as a module."""
    spec = importlib.util.spec_from_file_location(pathlib.Path(script).stem, REPO / script)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.mark.parametrize("script", ["bench.py", "tools/duckdb_bench.py"])
def test_bench_runs_fails_loudly(script, monkeypatch):
    """A malformed ``BENCH_RUNS`` raises before any timing and names the
    variable."""
    module = _load(script)
    monkeypatch.setenv("BENCH_RUNS", "abc")
    with pytest.raises(ValueError, match="BENCH_RUNS"):
        module.main()


def test_code_lines_counts_sql_string_lines(tmp_path):
    """A multi-line string is one code line plus its non-blank later lines
    as string lines; docstrings and comments count as neither."""
    src = tmp_path / "m.py"
    src.write_text(
        '"""Doc\n\nstring."""\n'
        "# comment\n"
        'Q = """\n'
        "SELECT 1\n"
        "\n"
        "FROM t\n"
        '"""\n'
        "x = 1\n"
    )
    tokens, code, strings, physical = _load("tools/code_lines.py").count(src)
    assert (code, strings, physical) == (2, 3, 10)


def test_oracle_hash_ignores_row_and_column_order_not_dtype():
    import duckdb

    result_hash = _load("tools/oracle_hashes.py").result_hash
    con = duckdb.connect()
    rows = "(VALUES (1, 'x'), (2, 'y')) t(a, b)"
    base = result_hash(con, f"SELECT * FROM {rows}")
    assert result_hash(con, f"SELECT b, a FROM {rows} ORDER BY a DESC") == base
    assert result_hash(con, f"SELECT CAST(a AS DOUBLE) AS a, b FROM {rows}") != base
    con.close()

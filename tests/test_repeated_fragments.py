"""No run of 8 or more normalized lines appears twice in the package.

A line is normalized by dropping its comment and collapsing its
whitespace. Blank lines, comments, docstrings and import statements are
left out; a multi-line string (most are SQL) counts line by line, so a
copied oracle CTE repeats here as it does in the file. Each repeated run
is reported once, with both sites. The runs that stay are listed in
``ALLOWED`` with the reason they stay.
"""

from __future__ import annotations

import ast
import io
import pathlib
import tokenize
from collections import defaultdict

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "bigdata_project_spark"
WINDOW = 8

# (module, module, a line of the run): kept because sharing it would
# branch on the caller in more than one place, or because it is not a
# fragment of logic at all.
ALLOWED: dict[tuple[str, str, str], str] = {}


def _skipped_lines(tree: ast.AST) -> set[int]:
    """Lines of docstrings and import statements."""
    out: set[int] = set()
    for n in ast.walk(tree):
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            out.update(range(n.lineno, n.end_lineno + 1))
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)) \
                and n.body and isinstance(n.body[0], ast.Expr) \
                and isinstance(n.body[0].value, ast.Constant) \
                and isinstance(n.body[0].value.value, str):
            out.update(range(n.body[0].lineno, n.body[0].end_lineno + 1))
    return out


def normalized_lines(src: str) -> list[tuple[int, str]]:
    """``(line number, normalized text)`` of every counted line of ``src``."""
    lines = src.splitlines()
    skipped = _skipped_lines(ast.parse(src))
    counted: set[int] = set()
    comment_at: dict[int, int] = {}
    for t in tokenize.generate_tokens(io.StringIO(src).readline):
        if t.type == tokenize.COMMENT:
            comment_at[t.start[0]] = t.start[1]
        elif t.type not in (tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
                            tokenize.DEDENT, tokenize.ENDMARKER):
            counted.update(range(t.start[0], t.end[0] + 1))
    out = []
    for n in sorted(counted - skipped):
        text = " ".join(lines[n - 1][: comment_at.get(n)].split())
        if text:
            out.append((n, text))
    return out


def repeated_runs(files: dict[str, str], window: int = WINDOW):
    """Maximal runs of ``>= window`` normalized lines found at two sites:
    ``[(site_a, site_b, lines)]`` where a site is ``(module, first line)``."""
    seqs = {name: normalized_lines(src) for name, src in files.items()}
    where = defaultdict(list)
    for name, seq in seqs.items():
        texts = [t for _, t in seq]
        for i in range(len(texts) - window + 1):
            where[tuple(texts[i:i + window])].append((name, i))
    pairs = set()
    for sites in where.values():
        for a in range(len(sites)):
            for b in range(a + 1, len(sites)):
                pairs.add((sites[a], sites[b]))
    runs = []
    for (na, ia), (nb, ib) in sorted(pairs):
        if ((na, ia - 1), (nb, ib - 1)) in pairs:
            continue  # not the start of its run
        k = 0
        while ((na, ia + k + 1), (nb, ib + k + 1)) in pairs:
            k += 1
        body = [t for _, t in seqs[na][ia:ia + k + window]]
        runs.append(((na, seqs[na][ia][0]), (nb, seqs[nb][ib][0]), body))
    return runs


def _package_files() -> dict[str, str]:
    return {
        str(p.relative_to(PACKAGE)): p.read_text() for p in sorted(PACKAGE.glob("**/*.py"))
    }


def _allowed(run) -> str | None:
    (ma, _), (mb, _), body = run
    for (a, b, marker), reason in ALLOWED.items():
        if {a, b} == {ma, mb} and marker in body:
            return reason
    return None


def test_scanner_finds_a_planted_copy():
    block = "\n".join(f"x{i} = f({i})  # step {i}" for i in range(WINDOW))
    sql = '\n'.join(["Q = '''", *(f"SELECT {i}" for i in range(WINDOW)), "'''"])
    files = {"a.py": f"import os\n{block}\n{sql}\n", "b.py": f'"""doc"""\n\n{block}\ny = 1\n{sql}\n'}
    runs = repeated_runs(files)
    assert [(a, b, len(body)) for a, b, body in runs] == [
        (("a.py", 2), ("b.py", 3), WINDOW),
        (("a.py", 10), ("b.py", 12), WINDOW + 2),  # with the quote lines
    ]
    assert not repeated_runs({"a.py": block + "\n", "b.py": "\n".join(block.splitlines()[1:]) + "\n"})


def test_no_repeated_fragments():
    runs = repeated_runs(_package_files())
    bad = [
        f"{ma}:{la} == {mb}:{lb} ({len(body)} lines, from {body[0]!r})"
        for (ma, la), (mb, lb), body in runs
        if _allowed(((ma, la), (mb, lb), body)) is None
    ]
    assert not bad, "repeated fragments:\n" + "\n".join(bad)


def test_every_allowed_run_still_repeats():
    runs = repeated_runs(_package_files())
    stale = [key for key in ALLOWED if not any(_allowed(r) == ALLOWED[key] for r in runs)]
    assert not stale, f"allowed runs that no longer repeat: {stale}"

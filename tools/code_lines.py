"""Count code lines, code tokens and physical lines of Python sources.

Usage: python tools/code_lines.py PATH...

Each PATH is a ``.py`` file or a directory searched recursively. A token
counts unless it is a comment, a NL/NEWLINE/INDENT/DEDENT/ENDMARKER
token, or inside a module/class/function docstring; a code line is a
line that holds at least one counted token. Prints one line per PATH:
``PATH tokens N code_lines N physical_lines N``.
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize

SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
    tokenize.ENCODING,
}
DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def doc_lines(tree: ast.AST) -> set[int]:
    """Line numbers covered by module/class/function docstrings."""
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, DOC_OWNERS) and n.body:
            first = n.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant) \
                    and isinstance(first.value.value, str):
                out.update(range(first.lineno, first.end_lineno + 1))
    return out


def count(path: pathlib.Path) -> tuple[int, int, int]:
    """(code tokens, code lines, physical lines) of every ``.py`` under path."""
    toks = lines = physical = 0
    for f in sorted(path.glob("**/*.py")) if path.is_dir() else [path]:
        src = f.read_text()
        doc = doc_lines(ast.parse(src))
        seen = set()
        for t in tokenize.generate_tokens(io.StringIO(src).readline):
            if t.type not in SKIP and t.start[0] not in doc:
                toks += 1
                seen.add(t.start[0])
        lines += len(seen)
        physical += len(src.splitlines())
    return toks, lines, physical


def main() -> None:
    for arg in sys.argv[1:]:
        toks, lines, physical = count(pathlib.Path(arg))
        print(f"{arg} tokens {toks} code_lines {lines} physical_lines {physical}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Code-line count: the lines of Python source that hold code, without
blank lines, comments or docstrings (the count CHANGES.md and ROADMAP.md
cite for the size of `slmpy_spark/`).

A line counts when it holds at least one token other than a comment,
a newline or an indent change; a string token spanning several lines
counts each of them.  A docstring — a string literal that is the first
statement of a module, class or function — counts no line.

Usage: python BENCH/loc.py FILE... (prints one count per file, then the
total), e.g. ``python BENCH/loc.py slmpy_spark/graph/*.py``.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(path: str) -> int:
    with open(path, "rb") as f:
        src = f.read()
    lines = set()
    for tok in tokenize.tokenize(io.BytesIO(src).readline):
        if tok.type not in _LAYOUT:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(src)))


def main(paths: list[str]) -> None:
    total = 0
    for path in paths:
        n = code_lines(path)
        total += n
        print(f"{n:6d}  {path}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])

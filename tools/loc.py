#!/usr/bin/env python
"""Line counter for Python sources: total lines and code-only lines.

A line is code when `tokenize` yields a token on it other than a
comment, a newline, an indent or a dedent, and `ast` does not place it
inside a module, class or function docstring. A token that spans
lines (a multi-line string) makes every line it spans code, unless it
is a docstring. Blank lines, comment-only lines and docstring lines
are therefore left out of the code count; they still count in the
total.

Usage: python tools/loc.py PATH [PATH ...]

Each PATH is a .py file or a directory (searched recursively for .py
files). Prints one JSON object, {path: {"total": n, "code": n}}, with
one entry per file plus one per directory argument summing its files.
Uses only the standard library.
"""

from __future__ import annotations

import ast
import io
import json
import os
import sys
import tokenize

_NON_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def count(source: str) -> dict[str, int]:
    """{"total": lines in `source`, "code": code-only lines}."""
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    code -= _docstring_lines(ast.parse(source))
    return {"total": len(source.splitlines()), "code": len(code)}


def _files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    found = []
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        found += [os.path.join(root, n) for n in sorted(names) if n.endswith(".py")]
    return found


def main(paths: list[str]) -> dict[str, dict[str, int]]:
    result: dict[str, dict[str, int]] = {}
    for path in paths:
        files = _files(path)
        for f in files:
            with open(f, encoding="utf-8") as fh:
                result[f] = count(fh.read())
        if os.path.isdir(path):
            result[path] = {
                k: sum(result[f][k] for f in files) for k in ("total", "code")
            }
    return result


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    print(json.dumps(main(sys.argv[1:]), indent=1))

#!/usr/bin/env python3
"""Count code lines: lines holding a Python token other than a comment,
not counting module, class and function docstrings.

    python scripts/code_lines.py dbfs_spark_cache_spark [more paths...]

Prints one line per path (a file or a directory walked for ``*.py``) and a
total. Use it to measure line reductions without rewarding deleted comments.
"""
from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING,
}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(path: str) -> int:
    with open(path, encoding="utf-8") as fh:
        src = fh.read()
    docstrings = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, _SCOPES) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant) \
                    and isinstance(first.value.value, str):
                docstrings.update(range(first.lineno, first.end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docstrings)


def count(path: str) -> int:
    if not os.path.isdir(path):
        return code_lines(path)
    return sum(
        code_lines(os.path.join(root, name))
        for root, _, names in os.walk(path)
        for name in names
        if name.endswith(".py")
    )


def main(paths) -> None:
    total = 0
    for path in paths:
        n = count(path)
        total += n
        print(f"{n:7d}  {path}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:] or ["dbfs_spark_cache_spark"])

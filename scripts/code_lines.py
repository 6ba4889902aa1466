#!/usr/bin/env python
"""Count code lines of Python files: lines holding a token that is not
a comment, blank or docstring (``tokenize`` + ``ast``), beside raw
``wc -l`` lines, per file and per top-level def/class.

    python scripts/code_lines.py path/to/a.py [more.py ...] [--defs]
"""

from __future__ import annotations

import ast
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER}


def code_lines(path: str) -> "tuple[set[int], int, ast.Module]":
    with open(path, "rb") as f:
        toks = list(tokenize.tokenize(f.readline))
    lines = {n for t in toks if t.type not in _SKIP
             for n in range(t.start[0], t.end[0] + 1)} - {0}
    tree = ast.parse(open(path, encoding="utf-8").read())
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if (isinstance(body, list) and body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            lines -= set(range(body[0].lineno, body[0].end_lineno + 1))
    return lines, toks[-1].start[0] - 1, tree


if __name__ == "__main__":
    paths = [p for p in sys.argv[1:] if p != "--defs"]
    for path in paths:
        lines, raw, tree = code_lines(path)
        print(f"{path}: {len(lines)} code / {raw} raw")
        if "--defs" in sys.argv:
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                    span = range(node.lineno, node.end_lineno + 1)
                    code = len(lines.intersection(span))
                    print(f"  {node.name}: {code} code / {len(span)} raw")

#!/usr/bin/env python
"""Count code lines in Python files: lines that hold at least one token
other than a comment, and that do not belong to a docstring.

Usage:
    python tools/code_lines.py FILE [FILE ...]

Prints one ``<count>  <path>`` line per file and a ``<total>  total``
line. A blank line, a comment-only line and every line of a module,
class or function docstring are excluded; a line that mixes code and a
trailing comment counts. Docstrings are found with ``ast`` (the first
statement of a body that is a string constant), everything else with
``tokenize``.
"""

from __future__ import annotations

import ast
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def docstring_lines(tree: ast.AST) -> set[int]:
    """Line numbers covered by docstrings anywhere in ``tree``."""
    out: set[int] = set()
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
            out.update(range(body[0].lineno, body[0].end_lineno + 1))
    return out


def code_lines(path: str) -> int:
    with open(path, "rb") as f:
        src = f.read()
    docs = docstring_lines(ast.parse(src, filename=path))
    lines: set[int] = set()
    with open(path, "rb") as f:
        for tok in tokenize.tokenize(f.readline):
            if tok.type in _SKIP:
                continue
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docs)


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for p in paths:
        n = code_lines(p)
        total += n
        print(f"{n:7d}  {p}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

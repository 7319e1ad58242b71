#!/usr/bin/env python
"""Count code lines per Python file: no comments, docstrings or blanks.

Usage:
    python tools/loc.py FILE [FILE ...]

Prints ``<code lines>  <path>`` per file, then a total when more than
one file is given.  The rule: a line counts when any Python token other
than a comment or a line break touches it (so every line of a
multi-line expression or string literal counts), minus the lines of
module, class and function docstrings.  Needs no Spark: it parses the
source with ``ast`` and ``tokenize`` only.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_NON_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}


def code_lines(source: str) -> int:
    """The number of code lines in ``source`` under the rule above."""
    docstrings: set[int] = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ) and node.body:
            first = node.body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                docstrings.update(range(first.lineno, first.end_lineno + 1))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - docstrings)


def main() -> None:
    paths = sys.argv[1:]
    if not paths:
        sys.exit(__doc__)
    total = 0
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n:6d}  {path}")
    if len(paths) > 1:
        print(f"{total:6d}  total")


if __name__ == "__main__":
    main()

"""Count code lines and comment+docstring lines of Python files.

A code line holds at least one token that is not a comment, a newline
or indentation, and lies outside every docstring. A comment line holds
a ``#`` comment or docstring text; a line with code and a trailing
comment counts in both columns. Blank lines count in neither.

Usage: python tools/loc.py FILE... (prints ``code comment path`` per
file, then the totals).
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def count(src: str) -> tuple[int, int]:
    """(code lines, comment+docstring lines) of one module's source."""
    doc: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, _SCOPES) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(
                getattr(first.value, "value", None), str
            ):
                doc.update(range(first.lineno, first.end_lineno + 1))
    code: set[int] = set()
    comment: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            comment.add(tok.start[0])
        elif tok.type not in _LAYOUT:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - doc), len(comment | doc)


if __name__ == "__main__":
    totals = [0, 0]
    for path in sys.argv[1:]:
        with open(path) as f:
            c, m = count(f.read())
        totals[0] += c
        totals[1] += m
        print(f"{c:6d} {m:6d} {path}")
    print(f"{totals[0]:6d} {totals[1]:6d} total")

"""Count the code lines of every .py file under a directory.

    python tools/count_code_lines.py linkgraph

A code line carries at least one token that is not a comment, a blank
or newline token, or part of a module/class/function docstring, so
comment and docstring edits do not move the count.
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def code_lines(src: str) -> int:
    docs: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                docs.update(range(first.lineno, first.end_lineno + 1))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _LAYOUT:
            lines.update(ln for ln in range(tok.start[0], tok.end[0] + 1) if ln not in docs)
    return len(lines)


if __name__ == "__main__":
    root = pathlib.Path(sys.argv[1])
    print(sum(code_lines(p.read_text()) for p in sorted(root.rglob("*.py"))))

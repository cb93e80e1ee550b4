"""Count lines of Python source: all lines and code lines.

Usage: python scripts/loc.py [paths...]   (default: the package)

A path may be a file or a directory (searched for ``*.py``). For each
file it prints the ``wc -l`` line count and the code line count, then
the totals. A code line holds at least one token that is not a
comment and not part of a docstring; blank lines, comment-only lines
and docstring lines are left out. A docstring is a string-literal
expression statement at the head of a module, class or function body.
Stdlib only (``ast`` and ``tokenize``).
"""

from __future__ import annotations

import ast
import io
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
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
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


def count(path: str) -> tuple[int, int]:
    """(all lines, code lines) of one Python file."""
    with open(path, "rb") as fh:
        src = fh.read()
    total = src.count(b"\n")  # as wc -l counts
    docs = _docstring_lines(ast.parse(src))
    code: set[int] = set()
    for tok in tokenize.tokenize(io.BytesIO(src).readline):
        if tok.type in _NON_CODE:
            continue
        for line in range(tok.start[0], tok.end[0] + 1):
            if line not in docs:
                code.add(line)
    return total, len(code)


def _files(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, files in os.walk(p):
                dirs[:] = sorted(d for d in dirs if d != "__pycache__")
                out += [os.path.join(root, f) for f in sorted(files) if f.endswith(".py")]
        else:
            out.append(p)
    return out


def main(argv: list[str]) -> int:
    paths = argv or ["node_js_etl_processor_spark"]
    total_lines = total_code = 0
    for path in _files(paths):
        lines, code = count(path)
        total_lines += lines
        total_code += code
        print(f"{lines:8d} {code:8d}  {path}")
    print(f"{total_lines:8d} {total_code:8d}  total (lines, code lines)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

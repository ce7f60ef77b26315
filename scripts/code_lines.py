"""Count total and code lines of Python files.

A code line holds at least one token that is not a comment and not part of
a docstring (the string statement that opens a module, class or function).
Blank lines, comment-only lines and docstring lines are not code lines.

    python scripts/code_lines.py mssql2monetdb_spark/engine/export.py ...
    python scripts/code_lines.py mssql2monetdb_spark

A directory stands for every ``*.py`` file under it. Prints one
``total code path`` row per file, then the sums.
"""

from __future__ import annotations

import ast
import sys
import tokenize
from pathlib import Path

_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
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
    """(total lines, code lines) of one Python file."""
    with open(path, "rb") as fh:
        source = fh.read()
    with open(path, "rb") as fh:
        tokens = list(tokenize.tokenize(fh.readline))
    code: set[int] = set()
    for tok in tokens:
        if tok.type not in _NOT_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    code -= docstring_lines(ast.parse(source))
    return len(source.decode().splitlines()), len(code)


def python_files(paths: list[str]):
    """``paths``, each directory replaced by the ``*.py`` files under it."""
    for p in map(Path, paths):
        yield from sorted(p.rglob("*.py")) if p.is_dir() else [p]


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total_sum = code_sum = 0
    for path in python_files(paths):
        total, code = count(path)
        total_sum += total
        code_sum += code
        print(f"{total:6d} {code:6d} {path}")
    print(f"{total_sum:6d} {code_sum:6d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

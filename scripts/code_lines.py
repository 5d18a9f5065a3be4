"""Count code lines in Python files.

A code line holds at least one token other than a comment, a newline, an
indent or a dedent, and is not part of a module, class or function
docstring. Blank lines, comment-only lines and docstrings do not count;
a multi-line expression or a non-docstring multi-line string counts every
line it spans.

Usage: python scripts/code_lines.py [FILE ...]
With no arguments it counts every file of the ``sinew_spark`` package.
"""

from __future__ import annotations

import ast
import sys
import tokenize
from pathlib import Path

SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _docstring_starts(tree: ast.AST) -> set[tuple[int, int]]:
    """(line, col) of every module, class and function docstring."""
    starts = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                starts.add((body[0].lineno, body[0].col_offset))
    return starts


def code_lines(path: str | Path) -> int:
    src = Path(path).read_text(encoding="utf-8")
    docs = _docstring_starts(ast.parse(src))
    lines: set[int] = set()
    with open(path, "rb") as f:
        for tok in tokenize.tokenize(f.readline):
            if tok.type in SKIP:
                continue
            if tok.type == tokenize.STRING and tok.start in docs:
                continue
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines)


def main(argv: list[str]) -> int:
    paths = argv or sorted(
        str(p) for p in (Path(__file__).resolve().parents[1] / "sinew_spark").rglob("*.py")
    )
    total = 0
    for p in paths:
        n = code_lines(p)
        total += n
        print(f"{n:6d}  {p}")
    if len(paths) > 1:
        print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

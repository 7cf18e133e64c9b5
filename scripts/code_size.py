"""Count lines of code: non-blank lines that carry a token other than a
comment, minus the lines of module, class and function docstrings.

A multi-line string that is not a docstring counts every line it spans.
Docstrings are found with ``ast`` and lines with ``tokenize``, so a
comment-only line, a blank line or a docstring line never counts.

Usage::

    python scripts/code_size.py                      # package, bench, scripts, tests
    python scripts/code_size.py iceberg_explorer_spark bench.py
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

DEFAULT_PATHS = ("iceberg_explorer_spark", "bench.py", "scripts", "tests")

_NON_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
    tokenize.ENCODING,
}
_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring_spans(tree: ast.AST) -> "list[tuple[tuple[int, int], tuple[int, int]]]":
    spans = []
    for node in ast.walk(tree):
        if not isinstance(node, _DOC_OWNERS) or not node.body:
            continue
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            spans.append(
                (
                    (first.lineno, first.col_offset),
                    (first.end_lineno, first.end_col_offset),
                )
            )
    return spans


def count_lines(source: str) -> int:
    """Code lines in one Python source text."""
    docs = _docstring_spans(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _NON_CODE:
            continue
        if any(lo <= tok.start and tok.end <= hi for lo, hi in docs):
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines)


def count_path(path: Path) -> int:
    files = [path] if path.is_file() else sorted(path.rglob("*.py"))
    return sum(count_lines(f.read_text(encoding="utf-8")) for f in files)


def main(argv: "list[str]") -> None:
    total = 0
    for p in argv or DEFAULT_PATHS:
        n = count_path(Path(p))
        total += n
        print(f"{n:>8,}  {p}")
    print(f"{total:>8,}  total")


if __name__ == "__main__":
    main(sys.argv[1:])

"""scripts/code_size.py counts code lines: blank lines, comment-only
lines and docstrings never count; every other token line does."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_SPEC = importlib.util.spec_from_file_location(
    "code_size", Path(__file__).resolve().parents[1] / "scripts" / "code_size.py"
)
code_size = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(code_size)

FIXTURE = '''"""Module docstring,
two lines."""

import os  # a trailing comment keeps the line


# a comment-only line
def f(x):
    """Function docstring."""
    s = """a multi-line string
that is not a docstring"""
    return os.path.join(s, x)


class C:
    """Class
    docstring."""

    y = 1
'''


def test_counts_only_code_lines():
    # import, def, s = (2 lines), return, class, y = 1
    assert code_size.count_lines(FIXTURE) == 7


def test_count_path_sums_files(tmp_path):
    (tmp_path / "a.py").write_text(FIXTURE)
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "b.py").write_text("x = 1\n\n# c\n")
    assert code_size.count_path(tmp_path) == 8
    assert code_size.count_path(tmp_path / "a.py") == 7

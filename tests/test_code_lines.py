"""tools/code_lines.py: blank, comment-only and docstring lines are not
code; decorators and multi-line non-docstring strings are."""

from __future__ import annotations

import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "tools"))

import code_lines  # noqa: E402

SOURCE = '''"""Module docstring,
over two lines."""

import os  # a trailing comment keeps the line


# a comment-only line
@decorator(
    "arg",
)
def f(x):
    """Function docstring."""

    sql = """
    SELECT 1
    """
    return sql


class C:
    """Class docstring."""

    y = 1
'''


def test_counts_code_lines_only(tmp_path):
    path = tmp_path / "m.py"
    path.write_text(SOURCE)
    assert code_lines.count(str(path)) == 11
    assert code_lines.count(f"{path}::f") == 8
    assert code_lines.count(f"{path}::f,C") == 10

"""Count code lines: lines that are not blank, not comment-only and not
part of a docstring.

Usage:
    python tools/code_lines.py PATH [PATH::NAME[,NAME...]] ...

``PATH`` counts the whole module. ``PATH::NAME`` counts one top-level
definition (function, class or assignment target) from its first
decorator to its last line; several names may be given comma-separated.
Prints one line per item and the total. Multi-line strings that are not
docstrings (SQL text, for example) count as code.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def code_line_numbers(source: str) -> set[int]:
    """1-based numbers of the lines of ``source`` that hold code."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(source)):
        body = getattr(node, "body", None)
        if (
            isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.difference_update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def _names(node: ast.stmt) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    targets = getattr(node, "targets", None) or [getattr(node, "target", None)]
    return [t.id for t in targets if isinstance(t, ast.Name)]


def definition_spans(source: str) -> dict[str, tuple[int, int]]:
    """Top-level name → (first line, last line), decorators included."""
    spans = {}
    for node in ast.parse(source).body:
        first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
        for name in _names(node):
            spans[name] = (first, node.end_lineno)
    return spans


def count(item: str) -> int:
    path, _, names = item.partition("::")
    with open(path, encoding="utf-8") as fh:
        source = fh.read()
    code = code_line_numbers(source)
    if not names:
        return len(code)
    spans = definition_spans(source)
    total = 0
    for name in names.split(","):
        lo, hi = spans[name]
        total += sum(1 for n in code if lo <= n <= hi)
    return total


def main(argv: list[str]) -> int:
    if not argv or argv[0] in ("-h", "--help"):
        print(__doc__, file=sys.stderr)
        return 0 if argv else 2
    total = 0
    for item in argv:
        n = count(item)
        total += n
        print(f"{n:7d}  {item}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

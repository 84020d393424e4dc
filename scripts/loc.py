"""Count non-blank Python lines as code, comment and docstring lines.

Docstrings (module, class and function) are found with ``ast``; a comment
line is one whose first non-blank character is ``#``; every other
non-blank line is code. Prints one row per file and a total.

Usage: python scripts/loc.py FILE [FILE ...]
"""

from __future__ import annotations

import ast
import sys


def count(path: str) -> tuple[int, int, int]:
    src = open(path, encoding="utf-8").read()
    doc: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        body = getattr(node, "body", None)
        if (
            isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            doc.update(range(body[0].lineno, body[0].end_lineno + 1))
    code = comment = docstring = 0
    for no, line in enumerate(src.splitlines(), 1):
        text = line.strip()
        if not text:
            continue
        if no in doc:
            docstring += 1
        elif text.startswith("#"):
            comment += 1
        else:
            code += 1
    return code, comment, docstring


if __name__ == "__main__":
    total = [0, 0, 0]
    print(f"{'code':>6} {'comment':>8} {'docstring':>10}  file")
    for path in sys.argv[1:]:
        row = count(path)
        total = [t + r for t, r in zip(total, row)]
        print(f"{row[0]:>6} {row[1]:>8} {row[2]:>10}  {path}")
    print(f"{total[0]:>6} {total[1]:>8} {total[2]:>10}  total")

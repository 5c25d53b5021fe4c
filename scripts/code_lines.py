"""Count the code lines of Python files: every line that holds a token other
than a comment, minus module/class/function docstring lines. Blank and
comment-only lines do not count; multi-line strings other than docstrings
(e.g. SQL oracles) do.

Usage:
  python scripts/code_lines.py DIR_OR_FILE [...]
prints one "<count> <path>" line per file and a "<total> total" line.
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER,
}


def code_lines(src: str) -> int:
    doc: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                doc.update(range(first.lineno, first.end_lineno + 1))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - doc)


def main() -> None:
    total = 0
    for arg in sys.argv[1:]:
        root = pathlib.Path(arg)
        for path in sorted(root.rglob("*.py")) if root.is_dir() else [root]:
            n = code_lines(path.read_text())
            total += n
            print(n, path)
    print(total, "total")


if __name__ == "__main__":
    main()

"""Count code lines per Python module: blank lines, comments and docstrings
are left out.

A line counts when a token other than a comment or a line break starts or
spans it (a multi-line string that is not a docstring counts every line it
spans).  Docstrings are the string statements that open a module, class or
function body, found with ``ast``.

Usage: python tools/loc.py PATH [PATH ...]
    Prints "<lines>  <module>" per .py file under each PATH, then the total.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_starts(tree: ast.AST) -> set[tuple[int, int]]:
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


def code_lines(source: str) -> int:
    """Number of code lines in one module's source."""
    docs = _docstring_starts(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP or (tok.type == tokenize.STRING and tok.start in docs):
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines)


def _modules(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".py")
    )


def main(argv: list[str]) -> int:
    if not argv:
        print("usage: python tools/loc.py PATH [PATH ...]", file=sys.stderr)
        return 2
    total = 0
    for path in argv:
        for mod in _modules(path):
            with open(mod, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            print(f"{n:6d}  {mod}")
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

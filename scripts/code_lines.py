"""Count code lines in Python files, leaving out docstrings, comments and blanks.

    python scripts/code_lines.py PATH [PATH ...]

A PATH that is a directory stands for every ``*.py`` file under it, so
``python scripts/code_lines.py mrs_mapreduce_spark`` counts the whole
package. Prints one ``lines  path`` row per file and a total row. A
line counts when it holds at least one token that is not a comment, and
it is not part of a module, class or function docstring (found with ``ast``, so a
string literal used as a value still counts). Simplicity claims quote
these numbers for the files a change touches, before and after.
"""

from __future__ import annotations

import ast
import io
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
_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, _DOC_OWNERS) or not node.body:
            continue
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """Number of code lines in ``source``."""
    docs = _docstring_lines(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - docs)


def _python_files(paths: list[str]) -> list[Path]:
    files: list[Path] = []
    for path in map(Path, paths):
        files.extend(sorted(path.rglob("*.py")) if path.is_dir() else [path])
    return files


def main(paths: list[str]) -> int:
    if not paths:
        print("usage: python scripts/code_lines.py PATH [PATH ...]", file=sys.stderr)
        return 2
    total = 0
    for path in _python_files(paths):
        n = code_lines(path.read_text(encoding="utf-8"))
        total += n
        print(f"{n:7d}  {path}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

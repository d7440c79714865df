"""Count code lines of the Python files under a directory, or of one
``.py`` file: blank lines, comment-only lines and docstring lines (module,
class and function docstrings) are not counted. Prints one line per file
and the total.

Usage:

    python tools/count_code_lines.py rust_cdc_validator_spark
    python tools/count_code_lines.py rust_cdc_validator_spark/api.py

Standard library only (``ast`` + ``tokenize``), so it runs without the
package's dependencies.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_NON_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
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


def count_code_lines(source: str) -> int:
    """Lines of ``source`` holding a token that is not a comment, a line
    break or indentation, minus the lines of docstrings."""
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - _docstring_lines(ast.parse(source)))


def _py_files(root: str) -> list[str]:
    """``root`` itself if it is a ``.py`` file, else the ``.py`` files
    under the directory ``root`` in walk order."""
    if os.path.isfile(root):
        return [root] if root.endswith(".py") else []
    paths = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        paths += [
            os.path.join(dirpath, name)
            for name in sorted(filenames)
            if name.endswith(".py")
        ]
    return paths


def main(argv: list[str]) -> int:
    paths = _py_files(argv[0]) if len(argv) == 1 else []
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for path in paths:
        with open(path, encoding="utf-8") as f:
            n = count_code_lines(f.read())
        total += n
        print(f"{n:8d}  {path}")
    print(f"{total:8d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Code-line counter: per file, the lines that hold code — non-blank,
non-comment, and outside docstrings (module, class and function
docstrings, found with ``ast``). Comment-only lines and blank lines are
found with ``tokenize``, so a ``#`` inside a string literal is not a
comment. This is the "lines removed" measure of the design-quality aim:
run it before and after a change on the same files.

Usage: python tools/code_lines.py FILE [FILE ...]
Prints ``<code lines>  <physical lines>  <path>`` per file and a total.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
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


def code_lines(source: str) -> int:
    """Number of lines of ``source`` that carry a code token outside a
    docstring."""
    doc = _docstring_lines(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _LAYOUT:
            continue
        for ln in range(tok.start[0], tok.end[0] + 1):
            if ln not in doc:
                code.add(ln)
    return len(code)


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.strip().splitlines()[-2], file=sys.stderr)
        return 2
    total_code = total_phys = 0
    for p in paths:
        with open(p, encoding="utf-8") as f:
            src = f.read()
        n, phys = code_lines(src), len(src.splitlines())
        total_code += n
        total_phys += phys
        print(f"{n:6d} {phys:6d}  {p}")
    if len(paths) > 1:
        print(f"{total_code:6d} {total_phys:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

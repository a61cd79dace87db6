"""Count code lines: non-blank lines that are not comments or docstrings.

Usage: python3 tools/code_lines.py FILE [FILE ...]

Prints one count per file and the total. A line counts when it holds
any token other than a comment, and is not part of a string literal
that stands alone as a statement (module, class and function
docstrings, or bare string statements)."""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
    tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER,
}


def code_lines(src: str) -> int:
    doc = set()
    for node in ast.walk(ast.parse(src)):
        if (
            isinstance(node, ast.Expr)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ):
            doc.update(range(node.lineno, node.end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def main(paths: list[str]) -> None:
    total = 0
    for p in paths:
        with open(p) as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:6d}  {p}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        print("usage: python3 tools/code_lines.py FILE [FILE ...]", file=sys.stderr)
        sys.exit(2)
    main(sys.argv[1:])

"""Count code lines: lines holding a token that is not a comment and
not part of a docstring (blank lines do not count either).

    python scripts/count_code_lines.py PATH [PATH ...]

Each PATH is a ``.py`` file or a directory searched recursively; prints
one count per PATH and their total.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def code_lines(src: str) -> int:
    doc = set()
    for node in ast.walk(ast.parse(src)):
        body = getattr(node, "body", None)
        if (isinstance(body, list) and body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            doc.update(range(body[0].lineno, body[0].end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def main(paths: "list[str]") -> None:
    total = 0
    for p in map(Path, paths):
        files = sorted(p.rglob("*.py")) if p.is_dir() else [p]
        n = sum(code_lines(f.read_text()) for f in files)
        total += n
        print(f"{n:8d}  {p}")
    print(f"{total:8d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])

"""Count code lines: lines holding a token that is not a comment and
not part of a docstring (blank lines do not count either).

    python scripts/count_code_lines.py PATH [PATH ...]
    python scripts/count_code_lines.py --options PATH [PATH ...]

Each PATH is a ``.py`` file or a directory searched recursively; prints
one count per PATH and their total.

``--options`` counts defaulted parameters instead: every parameter with
a default (positional or keyword-only) of every ``def`` under PATH.  It
then reads every call in the package, ``scripts/``, ``perfbench/``,
``tests/`` and ``__spark_entry__.py`` and lists the parameters that no
call sets.  A call sets a parameter when it passes it by keyword or by
position, or when it splats ``*args`` / ``**kwargs`` (counted as setting
every positional / every parameter).  Calls are matched to a ``def`` by
the called name alone, so a call to another function of the same name
counts too: the list errs toward "set".
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from collections import defaultdict
from pathlib import Path

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}
REPO = Path(__file__).resolve().parent.parent
CALLERS = ("cassandra_join_library_spark", "scripts", "perfbench", "tests",
           "__spark_entry__.py")


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


def _py_files(p: Path) -> "list[Path]":
    return sorted(p.rglob("*.py")) if p.is_dir() else [p]


def defaulted(tree: ast.AST):
    """Yield ``(def name, parameter, position or None)`` for every
    defaulted parameter; position counts from the first parameter a
    caller passes (``self``/``cls`` of a method is skipped)."""
    methods = {id(f) for c in ast.walk(tree) if isinstance(c, ast.ClassDef)
               for f in c.body if isinstance(f, ast.FunctionDef)}
    for f in ast.walk(tree):
        if not isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        pos = f.args.posonlyargs + f.args.args
        skip = 1 if id(f) in methods and pos and pos[0].arg in ("self", "cls") else 0
        for i, a in enumerate(pos[len(pos) - len(f.args.defaults):],
                              len(pos) - len(f.args.defaults)):
            yield f.name, a.arg, i - skip
        for a, d in zip(f.args.kwonlyargs, f.args.kw_defaults):
            if d is not None:
                yield f.name, a.arg, None


def calls_setting() -> "dict[str, tuple[set, int, bool]]":
    """Map each called name to (keywords passed, most positional args
    passed, whether some call splats ``**``)."""
    seen = defaultdict(lambda: [set(), 0, False])
    for root in CALLERS:
        for path in _py_files(REPO / root):
            for c in ast.walk(ast.parse(path.read_text())):
                if not isinstance(c, ast.Call):
                    continue
                name = (c.func.attr if isinstance(c.func, ast.Attribute)
                        else getattr(c.func, "id", None))
                if name is None:
                    continue
                s = seen[name]
                s[0].update(k.arg for k in c.keywords if k.arg)
                star = any(isinstance(a, ast.Starred) for a in c.args)
                s[1] = max(s[1], 1 << 30 if star else len(c.args))
                s[2] |= any(k.arg is None for k in c.keywords)
    return seen


def options(paths: "list[str]") -> None:
    seen = calls_setting()
    total = unset_total = 0
    for p in map(Path, paths):
        n, unset = 0, []
        for f in _py_files(p):
            for fn, arg, i in defaulted(ast.parse(f.read_text())):
                n += 1
                kw, npos, splat = seen.get(fn, (set(), 0, False))
                if not (arg in kw or splat or (i is not None and npos > i)):
                    unset.append(f"{f}:{fn}({arg})")
        total += n
        unset_total += len(unset)
        print(f"{n:8d}  {p}  ({len(unset)} set by no call)")
        for u in unset:
            print(f"          {u}")
    print(f"{total:8d}  total  ({unset_total} set by no call)")


def main(paths: "list[str]") -> None:
    total = 0
    for p in map(Path, paths):
        n = sum(code_lines(f.read_text()) for f in _py_files(p))
        total += n
        print(f"{n:8d}  {p}")
    print(f"{total:8d}  total")


if __name__ == "__main__":
    if sys.argv[1:2] == ["--options"]:
        options(sys.argv[2:])
    else:
        main(sys.argv[1:])

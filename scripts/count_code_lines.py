"""Count code lines: lines holding a token that is not a comment and
not part of a docstring (blank lines do not count either).

    python scripts/count_code_lines.py PATH [PATH ...]
    python scripts/count_code_lines.py --options PATH [PATH ...]
    python scripts/count_code_lines.py --dups PATH [PATH ...]

Each PATH is a ``.py`` file or a directory searched recursively; prints
one count per PATH and their total.

``--dups`` counts repeated code lines instead.  It reads the code lines
of every file under the PATHs, leaving out the lines inside a
multi-line string literal (oracle SQL) as well as docstrings, and
compares every window of 4 consecutive code lines, each line stripped
of its indentation.  A window of at least 100 characters that appears
verbatim in two or more places marks its lines repeated in each place.
It prints the repeated lines per PATH, their total, and each maximal
run of repeated lines with one place its first window also appears.

``--options`` counts defaulted parameters instead: every parameter with
a default (positional or keyword-only) of every ``def`` under PATH.  It
then reads every call in the package, ``scripts/``, ``perfbench/``,
``tests/`` and ``__spark_entry__.py`` and lists the parameters that no
call sets.  A call sets a parameter when it passes it by keyword or by
position, or when it splats ``*args`` / ``**kwargs`` (counted as setting
every positional / every parameter).  Calls are matched to a ``def`` by
the called name alone, and to a class's ``__init__`` by the class name
as well, so a call to another function of the same name counts too:
the list errs toward "set".
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


def _docstring_lines(src: str) -> "set[int]":
    doc = set()
    for node in ast.walk(ast.parse(src)):
        body = getattr(node, "body", None)
        if (isinstance(body, list) and body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            doc.update(range(body[0].lineno, body[0].end_lineno + 1))
    return doc


def code_lines(src: str) -> int:
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(src))


def statement_lines(src: str) -> "list[tuple[int, str]]":
    """``(line number, stripped text)`` of each code line that is not a
    docstring line and not inside or closing a multi-line string."""
    starts, inside = set(), set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in _SKIP:
            continue
        starts.add(tok.start[0])
        if tok.type == tokenize.STRING:
            inside.update(range(tok.start[0] + 1, tok.end[0] + 1))
    text = src.splitlines()
    return [(n, text[n - 1].strip())
            for n in sorted(starts - inside - _docstring_lines(src))]


def _py_files(p: Path) -> "list[Path]":
    return sorted(p.rglob("*.py")) if p.is_dir() else [p]


def defaulted(tree: ast.AST):
    """Yield ``(names a call may use, parameter, position or None)`` for
    every defaulted parameter; position counts from the first parameter
    a caller passes (``self``/``cls`` of a method is skipped).  A
    class's ``__init__`` is called by the class name."""
    methods = {id(f): c.name for c in ast.walk(tree) if isinstance(c, ast.ClassDef)
               for f in c.body if isinstance(f, ast.FunctionDef)}
    for f in ast.walk(tree):
        if not isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        names = (f.name, methods[id(f)]) if f.name == "__init__" else (f.name,)
        pos = f.args.posonlyargs + f.args.args
        skip = 1 if id(f) in methods and pos and pos[0].arg in ("self", "cls") else 0
        for i, a in enumerate(pos[len(pos) - len(f.args.defaults):],
                              len(pos) - len(f.args.defaults)):
            yield names, a.arg, i - skip
        for a, d in zip(f.args.kwonlyargs, f.args.kw_defaults):
            if d is not None:
                yield names, a.arg, None


def calls_setting(files: "list[Path]") -> "dict[str, tuple[set, int, bool]]":
    """Map each name called in ``files`` to (keywords passed, most
    positional args passed, whether some call splats ``**``)."""
    seen = defaultdict(lambda: [set(), 0, False])
    for path in files:
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


def unset_options(path: Path, seen) -> "tuple[int, list[str]]":
    """The number of defaulted parameters in ``path`` and the
    ``name(parameter)`` of each that no call in ``seen`` sets."""
    n, unset = 0, []
    for names, arg, i in defaulted(ast.parse(path.read_text())):
        n += 1
        if not any(
            arg in kw or splat or (i is not None and npos > i)
            for kw, npos, splat in (seen.get(name, (set(), 0, False))
                                    for name in names)
        ):
            unset.append(f"{names[-1]}({arg})")
    return n, unset


def options(paths: "list[str]") -> None:
    seen = calls_setting([f for root in CALLERS for f in _py_files(REPO / root)])
    total = unset_total = 0
    for p in map(Path, paths):
        n, unset = 0, []
        for f in _py_files(p):
            k, names = unset_options(f, seen)
            n += k
            unset.extend(f"{f}:{u}" for u in names)
        total += n
        unset_total += len(unset)
        print(f"{n:8d}  {p}  ({len(unset)} set by no call)")
        for u in unset:
            print(f"          {u}")
    print(f"{total:8d}  total  ({unset_total} set by no call)")


DUP_WINDOW, DUP_MIN_CHARS = 4, 100


def dups(paths: "list[str]") -> None:
    files = {p: [f for f in _py_files(Path(p))] for p in paths}
    lines = {f: statement_lines(f.read_text()) for fs in files.values() for f in fs}
    where = defaultdict(list)
    for f, ls in lines.items():
        for i in range(len(ls) - DUP_WINDOW + 1):
            texts = [t for _, t in ls[i:i + DUP_WINDOW]]
            if sum(map(len, texts)) >= DUP_MIN_CHARS:
                where["\n".join(texts)].append((f, i))
    repeated = defaultdict(set)
    twin = {}
    for places in where.values():
        if len(places) < 2:
            continue
        for k, (f, i) in enumerate(places):
            repeated[f].update(range(i, i + DUP_WINDOW))
            twin.setdefault((f, i), places[k - 1] if k else places[1])
    total, runs = 0, []
    for p, fs in files.items():
        n = sum(len(repeated[f]) for f in fs)
        total += n
        print(f"{n:8d}  {p}")
        for f in fs:
            idx = sorted(repeated[f])
            while idx:
                j = 0
                while j + 1 < len(idx) and idx[j + 1] == idx[j] + 1:
                    j += 1
                a, b = idx[0], idx[j]
                of, oi = twin[(f, a)]
                runs.append(f"{b - a + 1:8d}  {f}:{lines[f][a][0]}-{lines[f][b][0]}"
                            f"  also {of}:{lines[of][oi][0]}")
                idx = idx[j + 1:]
    print(f"{total:8d}  total")
    print("\n".join(runs))


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
    elif sys.argv[1:2] == ["--dups"]:
        dups(sys.argv[2:])
    else:
        main(sys.argv[1:])

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
then reads every call in the package, ``scripts/``, ``perfbench/`` and
``__spark_entry__.py`` (calls under ``tests/`` are not callers) and
lists the parameters that have one value in use: every call passes the
same text, by keyword or by position, where a call that passes nothing
passes the default's text (so restating the default sets nothing).  A
``**name`` splat of a ``dict(...)`` built in the calling function
passes its keys; any other ``*``/``**`` splat passes a value
unlike every other.  Each listed parameter that a test sets to a second
value is marked.  Calls are matched to a ``def`` by the called name
alone, and to a class's ``__init__`` by the class name as well, so a
call to another function of the same name counts too: the list errs
toward "two values".
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
    """Yield ``(names a call may use, parameter, position or None,
    default's text)`` for every defaulted parameter; position counts
    from the first parameter a caller passes (``self``/``cls`` of a
    method is skipped).  A class's ``__init__`` is called by the class
    name."""
    methods = {id(f): c.name for c in ast.walk(tree) if isinstance(c, ast.ClassDef)
               for f in c.body if isinstance(f, ast.FunctionDef)}
    for f in ast.walk(tree):
        if not isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        names = (f.name, methods[id(f)]) if f.name == "__init__" else (f.name,)
        pos = f.args.posonlyargs + f.args.args
        skip = 1 if id(f) in methods and pos and pos[0].arg in ("self", "cls") else 0
        first = len(pos) - len(f.args.defaults)
        for i, (a, d) in enumerate(zip(pos[first:], f.args.defaults), first):
            yield names, a.arg, i - skip, ast.unparse(d)
        for a, d in zip(f.args.kwonlyargs, f.args.kw_defaults):
            if d is not None:
                yield names, a.arg, None, ast.unparse(d)


def _dict_splats(scope: ast.AST) -> "dict[str, dict[str, str]]":
    """``name -> {key: value text}`` for each ``name = dict(k=v, ...)``
    in ``scope``, so that a call's ``**name`` is read as the keywords
    it forwards."""
    out = {}
    for a in ast.walk(scope):
        if (isinstance(a, ast.Assign) and len(a.targets) == 1
                and isinstance(a.targets[0], ast.Name)
                and isinstance(a.value, ast.Call)
                and getattr(a.value.func, "id", None) == "dict"
                and not a.value.args and all(k.arg for k in a.value.keywords)):
            out[a.targets[0].id] = {k.arg: ast.unparse(k.value)
                                    for k in a.value.keywords}
    return out


def calls_setting(files: "list[Path]") -> "dict[str, list[tuple[list, dict]]]":
    """Map each name called in ``files`` to one ``(positional values,
    keyword values)`` per call, each value the text of its expression.
    A ``**name`` splat of a ``dict`` built in the calling function adds
    its keys; any other ``**`` splat, and a ``*args`` splat for every
    position from it on, passes an unknown value (``None``)."""
    seen = defaultdict(list)
    for path in files:
        tree = ast.parse(path.read_text())
        scopes = [s for s in ast.walk(tree)
                  if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef))]
        splats = {}
        for s in [tree] + scopes:  # an inner function's dicts win
            d = _dict_splats(s)
            for c in ast.walk(s):
                if isinstance(c, ast.Call):
                    splats[id(c)] = d
        for c in ast.walk(tree):
            if not isinstance(c, ast.Call):
                continue
            name = (c.func.attr if isinstance(c.func, ast.Attribute)
                    else getattr(c.func, "id", None))
            if name is None:
                continue
            pos = []
            for a in c.args:
                if isinstance(a, ast.Starred):
                    pos.append(None)
                    break
                pos.append(ast.unparse(a))
            kw = {}
            for k in c.keywords:
                if k.arg:
                    kw[k.arg] = ast.unparse(k.value)
                elif getattr(k.value, "id", None) in splats[id(c)]:
                    kw.update(splats[id(c)][k.value.id])
                else:
                    kw[None] = None
            seen[name].append((pos, kw))
    return seen


def option_values(path: Path, seen) -> "list[tuple[str, str, set]]":
    """``(name(parameter), default's text, values in use)`` of every
    defaulted parameter in ``path``.  Each call in ``seen`` to one of
    the parameter's names passes a value: the text of its argument, by
    keyword or position, or the default's text when it passes none.  A
    parameter no call reaches has its default as its one value.  An
    unknown value (from a splat) differs from every other value."""
    out = []
    for names, arg, i, default in defaulted(ast.parse(path.read_text())):
        values = set()
        for pos, kw in (call for name in names for call in seen.get(name, ())):
            if arg in kw:
                v = kw[arg]
            elif None in kw or (i is not None and None in pos[:i + 1]):
                v = None
            elif i is not None and i < len(pos):
                v = pos[i]
            else:
                v = default
            values.add(object() if v is None else v)
        out.append((f"{names[-1]}({arg})", default, values or {default}))
    return out


def unset_options(path: Path, seen) -> "tuple[int, list[str]]":
    """The number of defaulted parameters in ``path`` and the
    ``name(parameter)`` of each that no call in ``seen`` sets to
    anything but its default."""
    opts = option_values(path, seen)
    return len(opts), [n for n, d, v in opts if v == {d}]


def one_value_options(path: Path, seen) -> "list[str]":
    """``name(parameter) = value`` of each defaulted parameter in
    ``path`` that every call in ``seen`` gives the same value."""
    return [f"{n} = {next(iter(v))}" for n, d, v in option_values(path, seen)
            if len(v) == 1]


def caller_files(root: Path, with_tests: bool) -> "list[Path]":
    """The ``.py`` files of ``CALLERS`` under ``root``; those under
    ``tests/`` only ``with_tests``."""
    files = [f for c in CALLERS if (root / c).exists() for f in _py_files(root / c)]
    return [f for f in files
            if with_tests or "tests" not in f.relative_to(root).parts]


def options(paths: "list[str]") -> None:
    seen = calls_setting(caller_files(REPO, with_tests=False))
    with_tests = calls_setting(caller_files(REPO, with_tests=True))
    total = one_total = test_total = 0
    for p in map(Path, paths):
        n, one, by_tests = 0, [], 0
        for f in _py_files(p):
            n += len(option_values(f, seen))
            tested = set(one_value_options(f, with_tests))
            for o in one_value_options(f, seen):
                by_tests += o not in tested
                one.append(f"{f}:{o}"
                           + ("" if o in tested else "  (tests set another)"))
        total += n
        one_total += len(one)
        test_total += by_tests
        print(f"{n:8d}  {p}  ({len(one)} with one value, {by_tests} of them"
              f" set to another only by tests)")
        for o in one:
            print(f"          {o}")
    print(f"{total:8d}  total  ({one_total} with one value, {test_total} of them"
          f" set to another only by tests)")


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

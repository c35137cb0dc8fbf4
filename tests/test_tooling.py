"""The static scanners of ``scripts/count_code_lines.py``."""

from scripts import count_code_lines as ccl


def test_options_scanner_matches_a_constructor_call_by_class_name(tmp_path):
    """A class's ``__init__`` parameters are set by calls to the class:
    ``Box(size=2)`` sets ``size``; nothing sets ``color``."""
    mod = tmp_path / "mod.py"
    mod.write_text(
        "class Box:\n"
        "    def __init__(self, size=1, color=None):\n"
        "        self.size, self.color = size, color\n"
        "\n"
        "\n"
        "Box(size=2)\n"
    )
    n, unset = ccl.unset_options(mod, ccl.calls_setting([mod]))
    assert (n, unset) == (2, ["Box(color)"])


def _one_value(tmp_path, src, calls):
    """``one_value_options`` of ``def``s in ``src`` under the calls in
    each ``calls`` module."""
    mod = tmp_path / "mod.py"
    mod.write_text(src)
    files = []
    for i, text in enumerate(calls):
        f = tmp_path / f"caller{i}.py"
        f.write_text(text)
        files.append(f)
    return ccl.one_value_options(mod, ccl.calls_setting(files))


def test_options_scanner_reads_a_restated_default_as_no_second_value(tmp_path):
    """``f(n=5)`` passes the default's own text: ``n`` still has one
    value.  ``f(k=2)`` next to ``f()`` gives ``k`` two."""
    src = "def f(n=5, k=1):\n    pass\n"
    assert _one_value(tmp_path, src, ["f(n=5, k=2)\nf()\n"]) == ["f(n) = 5"]


def test_options_scanner_counts_a_value_no_call_leaves_to_the_default(tmp_path):
    """Every call passes 0.35 where the default is 0.4: one value, and
    it is 0.35."""
    src = "def g(a, t=0.4):\n    pass\n"
    assert _one_value(tmp_path, src, ["g(1, t=0.35)\ng(2, 0.35)\n"]) == [
        "g(t) = 0.35"]


def test_options_scanner_follows_a_dict_splat_to_its_keys(tmp_path):
    """``**kw`` of a ``dict(...)`` built in the caller passes its keys;
    a splat of anything else passes an unknown value."""
    src = "def h(x=1, y=2):\n    pass\n"
    calls = ["def c(v):\n    kw = dict(x=v)\n    h(**kw)\n    h(**other)\n"]
    assert _one_value(tmp_path, src, calls) == []
    calls = ["def c():\n    kw = dict(x=3)\n    h(**kw)\n"]
    assert _one_value(tmp_path, src, calls) == ["h(x) = 3", "h(y) = 2"]


def test_options_scanner_does_not_count_tests_as_callers(tmp_path):
    """A call under ``tests/`` is left out of the callers unless asked
    for, so a value only a test passes is not a second value in use."""
    pkg = tmp_path / "cassandra_join_library_spark"
    (tmp_path / "tests").mkdir()
    pkg.mkdir()
    (pkg / "mod.py").write_text("def f(n=5):\n    pass\n\n\nf()\n")
    (tmp_path / "tests" / "test_mod.py").write_text("f(n=3)\n")
    for with_tests, want in ((False, ["f(n) = 5"]), (True, [])):
        seen = ccl.calls_setting(ccl.caller_files(tmp_path, with_tests))
        assert ccl.one_value_options(pkg / "mod.py", seen) == want


def test_no_defaulted_parameter_has_one_value():
    """Every defaulted parameter in ``operators/``, ``functions/``,
    ``streaming/`` and ``queries/`` has two values in use, tests
    included: a parameter every call gives the same value is a
    constant."""
    seen = ccl.calls_setting(ccl.caller_files(ccl.REPO, with_tests=True))
    pkg = ccl.REPO / "cassandra_join_library_spark"
    one = [f"{f.relative_to(pkg)}:{o}"
           for d in ("operators", "functions", "streaming", "queries")
           for f in ccl._py_files(pkg / d)
           for o in ccl.one_value_options(f, seen)]
    assert one == []

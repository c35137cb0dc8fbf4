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

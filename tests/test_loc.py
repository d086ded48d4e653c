"""``scripts/loc.py``: the code-line count quoted by simplicity changes."""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _loc():
    spec = importlib.util.spec_from_file_location("loc", os.path.join(REPO, "scripts", "loc.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


SNIPPET = '''"""Module docstring,
two lines."""

import os  # counted: code before the comment

# a comment line


class A:
    """Class docstring."""

    X = """not a docstring:
    both lines count"""

    def f(self):
        """Function docstring."""
        "a bare string later in the body is code"
        return os.sep
'''


def test_loc_counts_code_lines_skipping_docstrings_and_comments():
    # import, class, X (2 lines), def, bare string, return
    assert _loc().code_lines(SNIPPET) == 7
    assert _loc().code_lines("") == 0

"""``scripts/loc.py``: the code-line count quoted by simplicity changes."""

from __future__ import annotations

import importlib.util
import os
import re

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


#: Where a script citation must resolve. BENCH.md, OPTIMIZATION_r*.md
#: and VERDICT.md are round history: they name scripts that later
#: rounds deleted (``git show`` recovers them), so they are not scanned.
CITING = (
    "aind_protein_data_transformation_spark",
    "plans",
    "tests",
    "scripts",
    "bench.py",
    "__spark_entry__.py",
    "README.md",
    os.path.join(".claude", "skills", "verify", "SKILL.md"),
)
CITATION = re.compile(r"scripts/(\w+\.py)\b|\b((?:exp|bench)_\w+\.py)\b")


def _citing_files():
    for entry in CITING:
        path = os.path.join(REPO, entry)
        if os.path.isfile(path):
            yield path
        for root, _dirs, files in os.walk(path):
            yield from (os.path.join(root, f) for f in files if f.endswith((".py", ".md")))


def _citations(pattern: re.Pattern) -> dict[str, list[str]]:
    """Each name ``pattern`` captures in a citing file -> its
    ``path:line`` sites."""
    cited = {}
    for path in _citing_files():
        with open(path, encoding="utf-8") as f:
            for lineno, line in enumerate(f, 1):
                for m in pattern.finditer(line):
                    where = f"{os.path.relpath(path, REPO)}:{lineno}"
                    cited.setdefault(next(g for g in m.groups() if g), []).append(where)
    return cited


def _missing(cited: dict[str, list[str]], subdir: str) -> dict[str, list[str]]:
    return {
        name: where
        for name, where in cited.items()
        if not os.path.isfile(os.path.join(REPO, subdir, name))
    }


def test_every_cited_script_exists():
    """A deleted script leaves no pointer behind: every script path
    under ``scripts/``, and every bare ``exp_<name>.py`` or
    ``bench_<name>.py``, named in code, tests, README or the verify
    recipe exists under scripts/."""
    cited = _citations(CITATION)
    assert "drive_contract.py" in cited and "exp_zorder.py" in cited
    missing = _missing(cited, "scripts")
    assert not missing, missing


def test_every_cited_test_file_exists():
    """A docstring that says "asserted in tests/<name>.py" points at a
    file that exists: every ``tests/<name>.py`` named in code, tests,
    README or the verify recipe is under tests/."""
    cited = _citations(re.compile(r"\btests/(\w+\.py)\b"))
    assert "test_incremental.py" in cited
    missing = _missing(cited, "tests")
    assert not missing, missing


def test_no_file_hard_codes_the_checkout_path():
    """Scripts and tests find the package from their own ``__file__``:
    a file naming this checkout's absolute path would, when run from a
    second checkout (a parent commit cloned for a plan or benchmark
    diff), import and write into this one instead."""
    files = [os.path.join(REPO, "bench.py")]
    for sub in ("scripts", "tests"):
        for root, _dirs, names in os.walk(os.path.join(REPO, sub)):
            files += [os.path.join(root, n) for n in names if n.endswith(".py")]
    offenders = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            for lineno, line in enumerate(f, 1):
                if re.search(re.escape(REPO) + r"(?![\w.-])", line):
                    offenders.append(f"{os.path.relpath(path, REPO)}:{lineno}")
    assert not offenders, offenders

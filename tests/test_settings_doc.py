"""The README's Settings table lists exactly the ``SPARK_GRAFT_*``
variables the code reads, so no knob comes back unlisted."""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"SPARK_GRAFT_[A-Z_]+")


def _code_names() -> set[str]:
    paths = [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
    pkg = os.path.join(REPO, "aind_protein_data_transformation_spark")
    for dirpath, _, files in os.walk(pkg):
        paths += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    names: set[str] = set()
    for path in paths:
        with open(path) as fh:
            names |= set(NAME.findall(fh.read()))
    return names


def _table_names() -> set[str]:
    with open(os.path.join(REPO, "README.md")) as fh:
        section = fh.read().split("### Settings", 1)[1]
    return {
        m.group(1)
        for m in re.finditer(r"^\| `(SPARK_GRAFT_[A-Z_]+)` \|", section, re.MULTILINE)
    }


def test_settings_table_matches_the_code():
    assert _table_names() == _code_names()

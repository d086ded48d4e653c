"""Materialization invariants: every shared subtree the package
computes once goes through ``plans.scale.materialize`` (a GC-managed
checkpoint, nothing in the session's cache manager to release), and
index storage lives only in the lifecycle core."""

from __future__ import annotations

import ast
import os

import aind_protein_data_transformation_spark as pkg

#: (module path relative to the package, attribute) pairs allowed to
#: materialize outside plans/scale.py. run_job's two level persists
#: stay until the block-native pyramid (ROADMAP direction 1) removes
#: them; perfbench reads their InMemoryTableScan rows.
_ALLOWED = {("arraylib/job.py", "persist")}


def test_only_plans_scale_materializes():
    """No package module calls ``.persist``, ``.cache``,
    ``.localCheckpoint`` or ``.checkpoint`` itself: the durability of
    every materialization is then decided in one place, and no query,
    operator or index flow can leave a cache-manager entry behind."""
    root = os.path.dirname(pkg.__file__)
    banned = {"persist", "cache", "localCheckpoint", "checkpoint"}
    offenders = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            if rel == "plans/scale.py":
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read())
            # AST attributes only: docstrings and comments may name calls
            offenders += [
                f"{rel}:{node.lineno} .{node.attr}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Attribute)
                and node.attr in banned
                and (rel, node.attr) not in _ALLOWED
            ]
    assert not offenders, f"materialize outside plans.scale: {offenders}"


def test_index_storage_calls_live_only_in_the_lifecycle_core():
    """Structural invariant: the index family modules hold no bucketed
    write or stamp write of their own — every ``saveAsTable`` /
    ``bucketBy`` / ``TBLPROPERTIES`` of the index code is in
    operators/index_lifecycle.py, so a storage fix lands once for all
    three families and index storage cannot grow back per family
    (materialization is covered by the test above). Docstrings and
    comments are excluded (they may name the calls)."""
    from aind_protein_data_transformation_spark import operators

    banned_attrs = {"saveAsTable", "bucketBy"}
    offenders = []
    for mod in ("dedup", "embedding_index", "simhash_index"):
        path = os.path.join(os.path.dirname(operators.__file__), f"{mod}.py")
        with open(path) as fh:
            tree = ast.parse(fh.read())
        docstrings = {
            id(node.body[0].value)
            for node in ast.walk(tree)
            if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef))
            and node.body
            and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr in banned_attrs:
                offenders.append(f"{mod}.py:{node.lineno} .{node.attr}")
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docstrings
                and "TBLPROPERTIES" in node.value
            ):
                offenders.append(f"{mod}.py:{node.lineno} TBLPROPERTIES")
    assert not offenders, f"index storage outside index_lifecycle: {offenders}"

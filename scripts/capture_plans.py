#!/usr/bin/env python
"""Capture .explain("formatted") for queries into plans/<tag>/<q>_<suffix>.txt.

Usage: python scripts/capture_plans.py <tag> <suffix> [query ...]
       (no query args = the bench HEADLINE set)

The files are the evidence the optimization-round judge checks plan
claims against (Exchange counts, join strategies, PushedFilters,
BatchEvalPython nodes), so they are committed verbatim.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from aind_protein_data_transformation_spark.catalog import DEFAULT_SF_DIR
from aind_protein_data_transformation_spark.session import get_spark


def main() -> int:
    tag, suffix = sys.argv[1], sys.argv[2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    import aind_protein_data_transformation_spark.queries as q
    from bench import HEADLINE

    names = sys.argv[3:] or list(HEADLINE)
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture-plans")
    try:
        for name in names:
            df = q.REGISTRY[name].fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            # quick shape summary to stdout
            n_ex = plan.count("Exchange")
            joins = [
                kind
                for kind in (
                    "BroadcastHashJoin",
                    "SortMergeJoin",
                    "ShuffledHashJoin",
                    "BroadcastNestedLoopJoin",
                    "CartesianProduct",
                )
                if kind in plan
            ]
            pyn = [
                kind
                for kind in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow", "MapInPandas")
                if kind in plan
            ]
            print(f"{name}: Exchange x{n_ex}; joins={joins or '-'}; python={pyn or '-'}")
            spark.catalog.clearCache()
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Durability of ``plans.scale.materialize`` under real executor loss.

Each case runs in its own process on a ``local-cluster[2,1,1024]``
master (two executor JVMs): materialize a 200000-row frame, kill one
executor with ``SparkContext.killExecutor``, then aggregate over the
materialized frame. A local checkpoint keeps its only copy of a
partition on the executor that computed it, so the aggregate must fail;
a reliable checkpoint re-reads the lost partitions from the checkpoint
dir, so the aggregate must return the exact answer.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_ROWS = 200_000

_CHILD = f"""
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from aind_protein_data_transformation_spark.plans.scale import materialize

spark = (
    SparkSession.builder.master("local-cluster[2,1,1024]")
    .config("spark.ui.enabled", "false")
    .config("spark.executor.memory", "512m")
    .getOrCreate()
)
ctx = spark.sparkContext._jsc.sc()


def executors():
    return [e for e in ctx.getExecutorIds().mkString(",").split(",") if e]


def wait_for(cond):
    deadline = time.time() + 120
    while not cond():
        assert time.time() < deadline, executors()
        time.sleep(0.2)


wait_for(lambda: len(executors()) == 2)
df = spark.range({N_ROWS}, numPartitions=8).selectExpr("id", "id * 2 AS v")
frame = materialize(df)
victim = executors()[0]
assert ctx.killExecutor(victim)
wait_for(lambda: victim not in executors())
try:
    row = frame.agg(F.sum("v").alias("s"), F.count("*").alias("n")).first()
except Py4JJavaError as exc:
    lines = str(exc).splitlines()
    print("LOST", next((ln for ln in lines if "Checkpoint block" in ln), lines[0]))
else:
    print("SUM", row.s, row.n)
spark.stop()
"""


def _run_with_executor_loss(tmp_path, checkpoint_dir: str | None) -> str:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CHECKPOINT_DIR"}
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    if checkpoint_dir is not None:
        env["SPARK_GRAFT_CHECKPOINT_DIR"] = checkpoint_dir
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return [ln for ln in proc.stdout.splitlines() if ln.startswith(("LOST", "SUM"))][-1]


def test_local_checkpoint_fails_on_executor_loss(tmp_path):
    result = _run_with_executor_loss(tmp_path, None)
    assert result.startswith("LOST"), result
    assert "Checkpoint block" in result and "not found" in result, result


def test_reliable_checkpoint_survives_executor_loss(tmp_path):
    result = _run_with_executor_loss(tmp_path, str(tmp_path / "ck"))
    assert result == f"SUM {N_ROWS * (N_ROWS - 1)} {N_ROWS}", result
    assert os.listdir(tmp_path / "ck"), "the checkpoint must be written to the dir"

"""Driver-session-proofing: the grading driver builds its own
SparkSession without session.py, so every conf the determinism contract
needs (UTC timezone, nanosAsLong) must be pinned at the query boundary
(queries/registry.py). This test runs representative queries in a
SUBPROCESS with a bare default-conf session — shuffle partitions 200,
no timezone/nanos presets — and compares them against DuckDB exactly
like the driver does. Round 2 shipped 6 red rows because this scenario
was only exercised through the tuned session."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import json, sys
from pyspark.sql import SparkSession

sf_dir = sys.argv[1]
# bare session: NO engine confs beyond master/memory
spark = (
    SparkSession.builder.master("local[4]")
    .appName("bare-driver-mimic")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
import aind_protein_data_transformation_spark.queries as q

out = {}
for name in ["q_date_functions", "asof_purchase_last_click", "streaming_tumbling_window", "q_percentiles_rank_select", "q_sessionize_events"]:
    df = q.REGISTRY[name].fn(spark, sf_dir)
    rows = df.collect()
    out[name] = {
        "n": len(rows),
        "probe": sorted(str(r[0]) for r in rows)[:3],
    }
print("RESULT:" + json.dumps(out))
spark.stop()
"""


def test_queries_survive_bare_default_session(sf_dir, duck):
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, sf_dir],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(l for l in proc.stdout.splitlines() if l.startswith("RESULT:"))
    got = json.loads(line[len("RESULT:"):])

    # row counts must equal the oracle's, computed fresh here
    want_rows = {
        "q_date_functions": duck.execute(
            "SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 0"
        ).fetchone()[0],
        "asof_purchase_last_click": duck.execute(
            "SELECT COUNT(*) FROM events WHERE event_type = 'purchase'"
        ).fetchone()[0],
        "streaming_tumbling_window": duck.execute(
            """
            SELECT COUNT(*) FROM (
                SELECT date_trunc('hour', ts), event_type
                FROM events GROUP BY 1, 2
            )
            """
        ).fetchone()[0],
        # promoted into the driver window round 4; its plan collects
        # bucket bounds and localCheckpoints the histogram, both of
        # which must work under a bare 200-shuffle-partition session
        "q_percentiles_rank_select": duck.execute(
            "SELECT COUNT(DISTINCT l_returnflag) FROM lineitem"
        ).fetchone()[0],
        # round-4 addition; timestamp-gap arithmetic must agree under a
        # bare session (no preset timezone) — micros epochs make it
        # timezone-free, but the boundary belongs in this regression net
        "q_sessionize_events": duck.execute(
            """
            WITH gapped AS (
                SELECT user_id,
                       CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                                 (PARTITION BY user_id ORDER BY ts, event_id)
                                 > 21600000000
                              OR LAG(ts) OVER
                                 (PARTITION BY user_id ORDER BY ts, event_id)
                                 IS NULL
                            THEN 1 ELSE 0 END AS is_new
                FROM events
            )
            SELECT SUM(is_new) FROM gapped
            """
        ).fetchone()[0],
    }
    for name, want in want_rows.items():
        assert got[name]["n"] == want, (name, got[name]["n"], want)

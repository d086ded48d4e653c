#!/usr/bin/env python3
"""Small-input self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload on the self-test inputs (``--size small``: two tiny
stacks; 300 documents and one shard), untraced and traced, and asserts
that each run exits 0 with a correct result, that the last stdout line
carries exactly the metrics BENCHMARK.json lists for its mode with their
units, and that the report names every workload metric and every layer
metric, with the layer counts and times above zero. Finally it runs the
benchmark in a directory holding only BENCHMARK.json and the
benchmark's files, which must fail without a result. Takes a few
minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

NAMED = {
    "array_pyramid": ("voxels_per_s", "stored_bytes_per_voxel", "baseline.numpy_pyramid_s"),
    "index_ingest": ("build_s", "shard_ingest_p50_s", "compact_swap_s", "index_bytes_per_doc"),
}
LAYERS = {
    "array_pyramid": (
        "stacks.claim_s",
        "stacks.files_claimed",
        "decode.s",
        "decode.voxel_rows",
        "decode.cpu_ms",
        *(f"pyramid.level{k}.{m}" for k in (1, 2, 3) for m in ("s", "shuffle_bytes", "rows_out")),
        *(f"blocks.parquet.level{k}.s" for k in range(4)),
        "blocks.parquet.bytes",
        "blocks.zarr.s",
        "blocks.zarr.jobs",
        "blocks.zarr.bytes",
        "blocks.chunks",
        "ome.s",
    ),
    "index_ingest": (
        *(f"index.{k}_s" for k in ("write", "probe", "append", "verify", "compact", "swap")),
        "index.pairs_found",
        "index.pairs_per_probed_doc",
        "index.files",
    ),
}
#: layer metrics that must read above zero on the self-test inputs
POSITIVE = {
    "array_pyramid": tuple(
        n for n in LAYERS["array_pyramid"] if n != "stacks.claim_s" and not n.endswith("shuffle_bytes")
    ),
    "index_ingest": LAYERS["index_ingest"],
}


def run(cwd: str, workload: str, trace: int, env=None) -> subprocess.CompletedProcess:
    cmd = [
        sys.executable, "perfbench/run.py",
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--size", "small",
    ]
    return subprocess.run(
        cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=600, check=False
    )


def report_field(stdout: str, key: str) -> dict:
    for line in stdout.splitlines():
        if line.startswith(f"  {key}: "):
            return json.loads(line.split(": ", 1)[1])
    raise AssertionError(f"report has no {key!r} line")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = run(ROOT, wl, trace)
            label = f"{wl} trace={trace}"
            before = len(failures)
            if p.returncode != 0:
                failures.append(f"{label}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            result = json.loads(p.stdout.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                failures.append(f"{label}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                failures.append(f"{label}: {result['correct']=} {result['attempted']=} {result['failed']=}")
            if got != want:
                failures.append(f"{label}: metrics {got} != {want}")
            named = report_field(p.stdout, "named")
            missing = [n for n in NAMED[wl] if n not in named]
            if trace:
                layers = report_field(p.stdout, "layers")
                missing += [n for n in LAYERS[wl] if n not in layers]
                zero = [n for n in POSITIVE[wl] if layers.get(n, 1) <= 0]
                if zero:
                    failures.append(f"{label}: layer metrics read zero: {zero}")
                if wl == "array_pyramid":
                    voxels = report_field(p.stdout, "inputs")["level0_voxels"]
                    if layers.get("decode.voxel_rows") != voxels:
                        failures.append(f"{label}: decode.voxel_rows {layers.get('decode.voxel_rows')} != {voxels}")
            if missing:
                failures.append(f"{label}: report lacks {missing}")
            print(f"selftest: {label}: {'ok' if len(failures) == before else 'FAILED'}")

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    # nothing may reach the program from outside the directory
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = run(bare, "array_pyramid", 0, env)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        failures.append(f"bare checkout: exit {p.returncode}, stdout {p.stdout[-300:]!r}")
    else:
        print(f"selftest: bare checkout fails as it must (exit {p.returncode})")

    for failure in failures:
        print(f"selftest FAILED: {failure}", file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

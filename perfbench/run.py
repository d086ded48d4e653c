#!/usr/bin/env python3
"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md for sizes and the layer map):

- ``array_pyramid`` — ``arraylib.job.run_job``, the paper's job;
- ``index_ingest`` — the minhash dedup-at-ingest index lifecycle
  (build, probe + append per shard, verify, compact, swap).

Each run generates its inputs from ``--seed``, starts the program's
Spark session on ``local[$SPARK_GRAFT_CPUS]`` (default: every core this
process may use), checks every output, and prints a report followed by
one JSON line as the last line of stdout::

    {"correct": true, "attempted": 8, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run first measures the untraced ``run_s`` of the same
seed in a child process, then runs with spans and the Spark event log
on, and reports the per-layer metrics, the tracing overhead among
them. A wrong output makes the run exit 1; a checkout without the
program makes it exit 2 without a result.
"""

from __future__ import annotations

import time

T_CALLED = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("array_pyramid", "index_ingest")


def process_start() -> float:
    """``perf_counter`` reading at this process's start (from /proc), so
    set-up time includes interpreter start and imports."""
    try:
        with open("/proc/self/stat") as fh:
            started = int(fh.read().rsplit(")", 1)[1].split()[19]) / os.sysconf("SC_CLK_TCK")
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return time.perf_counter() - max(0.0, uptime - started)
    except (OSError, ValueError, IndexError):
        return T_CALLED


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "small"), default="full", help="small: self-test inputs")
    return p.parse_args(argv)


def untraced_run_s(args) -> float:
    """``run_s`` of the untraced run with the same arguments, measured
    now in a child process (a fresh session, like the traced one), so
    the pair is taken minutes apart on the same machine state."""
    cmd = [
        sys.executable,
        os.path.abspath(__file__),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", "0",
        "--size", args.size,
    ]
    child = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=170, check=False)
    if child.returncode != 0:
        raise RuntimeError(f"untraced child run exited {child.returncode}")
    return json.loads(child.stdout.strip().splitlines()[-1])["metrics"]["run_s"]["value"]


def main(argv) -> int:
    args = parse(argv)
    t_start = process_start()
    sys.path.insert(0, ROOT)
    try:
        import aind_protein_data_transformation_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is missing from this checkout: {exc}", file=sys.stderr)
        return 2

    import harness
    import importlib

    workload = importlib.import_module(args.workload)
    base_run_s = None
    if args.trace:
        base_run_s = untraced_run_s(args)
        t_start = time.perf_counter()

    r = harness.Run(args.workload, args.seed, bool(args.trace), t_start)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        factory = None
        if args.trace:
            import tracing

            run_id = os.path.basename(r.work)
            factory = lambda spark: tracing.Tracer(spark, run_id)  # noqa: E731
        res = workload.run(r, args.size, args.seconds, factory)
        env = r.environment()
        report = {
            "title": f"{args.workload} seed={args.seed} trace={args.trace} size={args.size}",
            "environment": env,
            "inputs": res["inputs"],
            "named": {k: f"{v:.6g} {u}" for k, (v, u) in res["named"].items()},
        }
        if args.trace:
            tracer = res["tracer"]
            tracer.restore()
            r.stop()  # flushes the event log
            log = tracing.read_event_log(r.path("events"))
            metrics = {
                "session.floor_s": (r.floor_s, "s"),
                "session.first_job_s": (r.first_job_s, "s"),
                "trace.overhead_s": (res["run_s"] - base_run_s, "s"),
            }
            metrics.update(tracing.engine_metrics(tracer, log, res["top_spans"]))
            layers, bad = res["layer_fn"](log)
            res["problems"] += bad
            res["failed"] = min(res["attempted"], res["failed"] + bool(bad))
            top_s = sum(s.seconds for s in res["top_spans"])
            report["trace"] = {
                "untraced_run_s": round(base_run_s, 4),
                "traced_run_s": round(res["run_s"], 4),
                "top_level_spans_s": round(top_s, 4),
                "spans": len(tracer.spans),
            }
            report["layers"] = {k: round(v, 4) for k, v in layers.items()}
            out_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"{args.workload}-s{args.seed}.spans.json"))
            with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}.report.json"), "w") as fh:
                json.dump({**report, "metrics": {k: v[0] for k, v in metrics.items()}}, fh, indent=1)
        else:
            metrics = {
                "setup_s": (res["setup_s"], "s"),
                "run_s": (res["run_s"], "s"),
                "out_bytes_per_item": (res["out_bytes_per_item"], "B"),
            }
            report["calls"] = {"n": len(res["calls"]), "seconds": [round(c, 4) for c in res["calls"]]}
        for problem in res["problems"]:
            print(f"perfbench: WRONG OUTPUT: {problem}", file=sys.stderr)
        correct = res["failed"] == 0 and not res["problems"]
        harness.emit(report, correct, res["attempted"], res["failed"], metrics)
        return 0 if correct else 1
    finally:
        r.cleanup()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Shared plumbing for the benchmark's workloads: run isolation, the
pinned environment record, session start-up and warm-up, timing
statistics and the result line.

A run owns one work directory under ``<checkout>/.perfbench/``; every
file the run, Spark, the JVM and the Python workers write lands there
(inputs, outputs, warehouse, Spark local dirs, temp files, event log),
and the directory is removed when the run ends.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "aind_protein_data_transformation_spark"

#: Driver heap pinned well below physical RAM: the session default is
#: 16g, and on a 15 GB machine the kernel kills the JVM before the heap
#: limit is reached. The benchmark's inputs need a fraction of this.
DRIVER_MEMORY = "3g"


def cpu_count() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 1024**2, 1)
    return -1.0


def code_fingerprint() -> str:
    """SHA-1 over the program's and the benchmark's source files, so a
    result names the exact code it measured even where the checkout is
    not a git tree."""
    digest = hashlib.sha1()
    for top in (os.path.join(ROOT, PACKAGE), os.path.dirname(os.path.abspath(__file__))):
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames.sort()
            for name in sorted(filenames):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    digest.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        digest.update(fh.read())
    return digest.hexdigest()[:12]


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
            return fh.read().strip()
    except OSError:
        return None


class Run:
    """One benchmark process: its work directory, environment pins and
    Spark session."""

    def __init__(self, workload: str, seed: int, trace: bool, t_start: float):
        #: ``perf_counter`` at process start; set-up time counts from here
        self.t_start = t_start
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.work = os.path.join(
            ROOT, ".perfbench", f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        )
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("tmp", "local", "warehouse", "events", "in", "out"):
            os.makedirs(os.path.join(self.work, sub))
        self.cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpu_count()))
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        # keeps spark-submit's launcher JVM from writing its perf-data
        # file to the system temp directory
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        # executors import the package from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        self.spark = None
        self.floor_s = None
        self.first_job_s = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self):
        """Start the program's session (``session.get_spark``) with the
        benchmark's pins, run its first job and measure the session
        floor (best of five warmed one-row ``noop`` writes, bench.py's
        protocol) — the set-up's warm-up."""
        from aind_protein_data_transformation_spark.session import get_spark

        overrides = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            overrides.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.path("events"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.logBlockUpdates.enabled": "true",
                }
            )
        spark = get_spark(f"perfbench-{self.workload}", **overrides)
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        floor_df = spark.range(1)
        t0 = time.perf_counter()
        floor_df.write.format("noop").mode("overwrite").save()
        self.first_job_s = time.perf_counter() - t0
        best = float("inf")
        for _ in range(5):
            t0 = time.perf_counter()
            floor_df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        self.floor_s = best
        return spark

    def stop(self) -> None:
        """Stop the session, then the JVM it runs in, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)

    def cleanup(self) -> None:
        try:
            self.stop()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)

    def environment(self) -> dict:
        import pyspark

        return {
            "nproc": cpu_count(),
            "spark_graft_cpus": self.cpus,
            "mem_total_gb": mem_total_gb(),
            "driver_memory": DRIVER_MEMORY,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "commit": git_commit(),
            "code_sha1": code_fingerprint(),
            "seed": self.seed,
            "session_floor_s": round(self.floor_s, 4) if self.floor_s else None,
        }


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it — the Spark JVM and its Python workers — reaped
    children included. Differences of two readings time the CPU work of
    the calls between them, which the machine's other load touches less
    than wall time."""
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process has ended
            continue
        parent[int(pid)] = int(fields[1])
        cpu[int(pid)] = sum(int(f) for f in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(p for p, pp in parent.items() if pp == pid)
    return total / os.sysconf("SC_CLK_TCK")


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def dir_bytes(path: str) -> int:
    """On-disk bytes under ``path``, less the local filesystem's
    ``.<name>.crc`` checksum sidecars (an object store has none)."""
    return sum(
        os.path.getsize(os.path.join(dirpath, name))
        for dirpath, _, filenames in os.walk(path)
        for name in filenames
        if not (name.startswith(".") and name.endswith(".crc"))
    )


def dir_files(path: str) -> int:
    """Data files under ``path`` (hidden and ``_SUCCESS``-style markers
    excluded)."""
    return sum(
        1
        for _, _, filenames in os.walk(path)
        for name in filenames
        if not name.startswith((".", "_"))
    )


def emit(report: dict, correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """Print the human-readable report, then the result as the last
    stdout line. ``metrics`` maps name -> (value, unit)."""
    print(f"perfbench {report.pop('title')}")
    for key, value in report.items():
        if isinstance(value, dict):
            print(f"  {key}: {json.dumps(value, sort_keys=True)}")
        else:
            print(f"  {key}: {value}")
    line = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": float(value), "unit": unit}
            for name, (value, unit) in metrics.items()
        },
    }
    print(json.dumps(line))
    sys.stdout.flush()

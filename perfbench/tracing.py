"""Traced runs: in-memory spans around the program's public functions,
and the Spark event log attributed to them.

A :class:`Tracer` wraps module attributes (``module.fn``) so that every
call made through the module — by the benchmark or by the program's own
code, which looks the names up at call time — records a span: name,
start, end, parent, run id. While a span is open its id is the Spark job
description, so every job, stage and task the call triggers carries it
in the event log; :func:`read_event_log` turns the log into per-stage
records and :func:`stages_under` / :func:`stage_sum` add them up per
span. Lazily built DataFrames do their work inside the span of the
action that forces them; the stage records keep the physical operators
and the SQL execution each stage ran for, so that work can still be
split out (for instance the decode ``MapInPandas`` stages inside
``run_job``).

Nothing here is imported by an untraced run.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def desc(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    def begin(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, parent, time.time())
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobDescription(self.desc(span.id))
        return span

    def end(self, span: Span) -> None:
        span.end = time.time()
        self._stack.pop()
        self.sc.setJobDescription(self.desc(self._stack[-1].id) if self._stack else None)

    def call(self, name: str, fn, *args, **kwargs):
        span = self.begin(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(span)

    def wrap(self, module, attr: str, label=None) -> None:
        """Replace ``module.attr`` with a span-recording wrapper. The
        span is named ``<module>.<attr>`` unless ``label`` — a string,
        or a function of the call's ``(args, kwargs)`` — names it."""
        original = getattr(module, attr)
        default = f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            name = label(args, kwargs) if callable(label) else (label or default)
            return self.call(name, original, *args, **kwargs)

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, original))

    def restore(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def span_of(self, desc: str | None) -> int | None:
        if not desc or not desc.startswith(self.run_id + ":"):
            return None
        return int(desc.rsplit(":", 1)[1])

    def descendants(self, span_id: int) -> set[int]:
        out = {span_id}
        for s in self.spans:  # spans are appended parent-first
            if s.parent in out:
                out.add(s.id)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


@dataclass
class Stage:
    id: int
    desc: str | None
    #: SQL execution (one DataFrame action) the stage ran for
    execution: str | None = None
    submit: float = 0.0
    complete: float = 0.0
    operators: set = field(default_factory=set)
    tasks: int = 0
    cpu_ms: float = 0.0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    #: SQL "number of output rows" per physical operator label
    rows: dict = field(default_factory=lambda: defaultdict(int))

    @property
    def seconds(self) -> float:
        return max(0.0, self.complete - self.submit)


@dataclass
class EventLog:
    stages: dict[int, Stage]
    #: job id -> (description, submit s, end s)
    jobs: dict[int, tuple[str | None, float, float]]
    peak_storage_bytes: int


def _plan_nodes(info: dict, out: dict) -> None:
    """Map SQL metric accumulator ids to their operator label:
    ``HashAggregate`` nodes are labelled partial/final from their plan
    string, everything else by node name."""
    name = info.get("nodeName", "")
    if name == "HashAggregate":
        name = "HashAggregate.partial" if "partial_" in info.get("simpleString", "") else "HashAggregate.final"
    for metric in info.get("metrics", []):
        out[metric["accumulatorId"]] = (name, metric["name"])
    for child in info.get("children", []):
        _plan_nodes(child, out)


def _scope_name(scope: str | None) -> str | None:
    if not scope:
        return None
    try:
        return json.loads(scope).get("name")
    except ValueError:
        return None


def read_event_log(events_dir: str) -> EventLog:
    """Parse the (uncompressed) event log the traced session wrote."""
    paths = sorted(
        p
        for p in glob.glob(os.path.join(events_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
        and not os.path.basename(p).startswith(".")
    )
    stages: dict[int, Stage] = {}
    jobs: dict[int, list] = {}
    accums: dict[int, tuple[str, str]] = {}
    blocks: dict[str, int] = {}
    stored = peak = 0
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    desc = ev.get("Properties", {}).get("spark.job.description")
                    jobs[ev["Job ID"]] = [desc, ev["Submission Time"] / 1e3, 0.0]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]][2] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    props = ev.get("Properties", {})
                    st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"], None))
                    st.desc = props.get("spark.job.description")
                    st.execution = props.get("spark.sql.execution.id")
                    st.submit = info.get("Submission Time", 0) / 1e3
                    for rdd in info.get("RDD Info", []):
                        op = _scope_name(rdd.get("Scope"))
                        if op:
                            st.operators.add(op)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"], None))
                    st.complete = info.get("Completion Time", 0) / 1e3
                    st.submit = st.submit or info.get("Submission Time", 0) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"], None))
                    m = ev.get("Task Metrics") or {}
                    st.tasks += 1
                    st.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                    st.run_ms += m.get("Executor Run Time", 0)
                    st.gc_ms += m.get("JVM GC Time", 0)
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        node = accums.get(acc.get("ID"))
                        if node and node[1] == "number of output rows":
                            st.rows[node[0]] += int(acc.get("Update") or 0)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _plan_nodes(ev.get("sparkPlanInfo") or {}, accums)
                elif kind == "SparkListenerBlockUpdated":
                    upd = ev["Block Updated Info"]
                    block = upd["Block ID"]
                    if block.startswith("rdd_"):
                        size = upd.get("Memory Size", 0)
                        stored += size - blocks.get(block, 0)
                        blocks[block] = size
                        peak = max(peak, stored)
    return EventLog(stages, {k: tuple(v) for k, v in jobs.items()}, peak)


_SUMMED = (
    "tasks",
    "cpu_ms",
    "run_ms",
    "gc_ms",
    "input_bytes",
    "output_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def stage_sum(stages, keys=_SUMMED) -> dict:
    out = {k: 0 for k in keys}
    out["stages"] = 0
    out["seconds"] = 0.0
    for st in stages:
        out["stages"] += 1
        out["seconds"] += st.seconds
        for k in keys:
            out[k] += getattr(st, k)
    return out


def stages_under(tracer: Tracer, log: EventLog, span_id: int) -> list[Stage]:
    """Stages whose job description names ``span_id`` or a descendant."""
    ids = tracer.descendants(span_id)
    return [st for st in log.stages.values() if tracer.span_of(st.desc) in ids]


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi):
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def engine_metrics(tracer: Tracer, log: EventLog, top_spans: list[Span]) -> dict:
    """The Spark-engine and driver layer over the timed part (the given
    top-level spans): counters summed over every stage under them, the
    peak cached-RDD memory, and the Spark driver's own time — span time during
    which no Spark job ran (plan building, Python, catalog, py4j)."""
    ids = set()
    for span in top_spans:
        ids |= tracer.descendants(span.id)
    stages = [st for st in log.stages.values() if tracer.span_of(st.desc) in ids]
    total = stage_sum(stages)
    jobs = [(a, b) for d, a, b in log.jobs.values() if tracer.span_of(d) in ids and b > 0]
    busy = sum(union_seconds(jobs, s.start, s.end) for s in top_spans)
    span_s = sum(s.seconds for s in top_spans)
    return {
        "spark.jobs": (len(jobs), "count"),
        "spark.stages": (total["stages"], "count"),
        "spark.tasks": (total["tasks"], "count"),
        "spark.executor_cpu_ms": (total["cpu_ms"], "ms"),
        "spark.executor_run_ms": (total["run_ms"], "ms"),
        "spark.gc_ms": (total["gc_ms"], "ms"),
        "spark.input_bytes": (total["input_bytes"], "B"),
        "spark.output_bytes": (total["output_bytes"], "B"),
        "spark.shuffle_write_bytes": (total["shuffle_write_bytes"], "B"),
        "spark.spill_bytes": (total["spill_bytes"], "B"),
        "spark.peak_storage_mb": (log.peak_storage_bytes / 2**20, "MB"),
        "driver.self_s": (span_s - busy, "s"),
    }

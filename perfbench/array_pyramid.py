"""Workload ``array_pyramid``: the paper's own job.

``arraylib.job.run_job`` with the reference defaults (4 levels, 2x2x2
windowed mean, 128^3 chunks, zstd parquet) and ``zarr_v2=True`` over a
few seeded synthetic stacks whose shapes are not multiples of 2 or 128,
so edge windows and edge chunks run. One client calls ``run_job`` again
and again (closed loop) until the run's seconds are spent, each call
into a fresh output directory.

Every call's output is checked outside the timed part against a numpy
cascade of truncating windowed means (the semantics
``tests/test_arraylib.py`` pins): each parquet chunk payload and each
zarr v2 chunk must be bit-equal to the matching block, every grid cell
must be present, and one ``.zattrs`` must exist per stack. A
single-threaded numpy run of the same pyramid with zlib-encoded chunks
is timed as the baseline.
"""

from __future__ import annotations

import glob
import json
import math
import os
import time
import zlib

import numpy as np
import pyarrow.parquet as pq

import datagen
import harness

#: TCZYX stack shapes per input size. ``full`` is 0.62M level-0 voxels
#: over three stacks; every extent is odd and one stack is wider than a
#: 128 chunk in Y and X, so edge windows and edge chunks run. ``small``
#: is the self-test's.
SIZES = {
    "full": [(1, 1, 17, 139, 135), (1, 2, 9, 75, 133), (1, 1, 21, 67, 73)],
    "small": [(1, 1, 7, 11, 9), (1, 2, 5, 7, 5)],
}
LEVELS = 4
FACTOR = (2, 2, 2)
CHUNK = (128, 128, 128)


def synthetic_stack(shape) -> np.ndarray:
    """The values ``decode.synthetic_decoder`` derives from a header."""
    return (np.arange(math.prod(shape), dtype=np.int64) % 1000).reshape(shape).astype(np.uint16)


def downsample(arr: np.ndarray) -> np.ndarray:
    """One truncating 2x2x2 windowed mean over the last three axes;
    edge windows average the voxels present."""
    t, c, z, y, x = arr.shape
    fz, fy, fx = FACTOR
    pz, py, px = -z % fz, -y % fy, -x % fx
    vals = np.zeros((t, c, z + pz, y + py, x + px))
    cnt = np.zeros_like(vals)
    vals[:, :, :z, :y, :x] = arr
    cnt[:, :, :z, :y, :x] = 1.0
    shape = (t, c, (z + pz) // fz, fz, (y + py) // fy, fy, (x + px) // fx, fx)
    s = vals.reshape(shape).sum(axis=(3, 5, 7))
    n = cnt.reshape(shape).sum(axis=(3, 5, 7))
    return np.trunc(s / n).astype(arr.dtype)


def cascade_shapes(shape) -> list[tuple[int, ...]]:
    """Level shapes of one stack's cascade (edge windows round up)."""
    shapes = [tuple(shape)]
    for _ in range(1, LEVELS):
        t, c, *zyx = shapes[-1]
        shapes.append((t, c, *(-(-n // f) for n, f in zip(zyx, FACTOR))))
    return shapes


def cascade(arr: np.ndarray) -> list[np.ndarray]:
    levels = [arr]
    for _ in range(1, LEVELS):
        levels.append(downsample(levels[-1]))
    return levels


def chunk_origins(shape):
    cz, cy, cx = CHUNK
    _, _, z, y, x = shape
    for z0 in range(0, z, cz):
        for y0 in range(0, y, cy):
            for x0 in range(0, x, cx):
                yield z0, y0, x0


def numpy_baseline(stacks: dict[str, tuple], out_dir: str) -> tuple[dict, int]:
    """Single-threaded reference: decode, cascade, and write every chunk
    zlib-compressed (level 3, the zarr sink's codec). Returns the
    cascades (reused by the output check) and the bytes written."""
    written = 0
    levels = {}
    for sid, shape in stacks.items():
        levels[sid] = cascade(synthetic_stack(shape))
        for lvl, arr in enumerate(levels[sid]):
            for t in range(arr.shape[0]):
                for c in range(arr.shape[1]):
                    for z0, y0, x0 in chunk_origins(arr.shape):
                        block = arr[t, c, z0 : z0 + CHUNK[0], y0 : y0 + CHUNK[1], x0 : x0 + CHUNK[2]]
                        payload = zlib.compress(np.ascontiguousarray(block).tobytes(), 3)
                        path = os.path.join(out_dir, f"{sid}-{lvl}-{t}.{c}.{z0}.{y0}.{x0}")
                        with open(path, "wb") as fh:
                            fh.write(payload)
                        written += len(payload)
    return levels, written


def check_output(out: str, expected: dict, names: dict) -> list[str]:
    """Compare one ``run_job`` output directory with the numpy cascade.
    Returns the problems found (empty when correct)."""
    problems = []
    for lvl in range(LEVELS):
        table = pq.read_table(os.path.join(out, f"level={lvl}")).to_pylist()
        seen = {}
        for row in table:
            arr = expected[row["stack_id"]][lvl]
            z0, y0, x0 = row["z0"], row["y0"], row["x0"]
            dz, dy, dx = row["shape"]
            want = arr[row["t"], row["c"], z0 : z0 + dz, y0 : y0 + dy, x0 : x0 + dx]
            if list(want.shape) != [dz, dy, dx] or row["payload"] != want.tobytes():
                problems.append(f"parquet level {lvl} {row['stack_id']} chunk ({z0},{y0},{x0}) differs")
            key = (row["stack_id"], row["t"], row["c"], z0, y0, x0)
            seen[key] = seen.get(key, 0) + 1
        want_keys = {
            (sid, t, c, *o)
            for sid, levels in expected.items()
            for t in range(levels[lvl].shape[0])
            for c in range(levels[lvl].shape[1])
            for o in chunk_origins(levels[lvl].shape)
        }
        if set(seen) != want_keys or any(n != 1 for n in seen.values()):
            problems.append(f"parquet level {lvl}: chunk grid mismatch")
        for sid, levels in expected.items():
            arr = levels[lvl]
            store = os.path.join(out, "zarr", sid, str(lvl))
            with open(os.path.join(store, ".zarray")) as fh:
                meta = json.load(fh)
            if meta["shape"] != list(arr.shape) or meta["chunks"] != [1, 1, *CHUNK]:
                problems.append(f"zarr {sid}/{lvl}: metadata {meta['shape']} {meta['chunks']}")
                continue
            n_files = sum(1 for p in glob.glob(os.path.join(store, "*", "*", "*", "*", "*")))
            n_cells = arr.shape[0] * arr.shape[1] * len(list(chunk_origins(arr.shape)))
            if n_files != n_cells:
                problems.append(f"zarr {sid}/{lvl}: {n_files} chunk files for {n_cells} cells")
            for t in range(arr.shape[0]):
                for c in range(arr.shape[1]):
                    for z0, y0, x0 in chunk_origins(arr.shape):
                        key = f"{t}/{c}/{z0 // CHUNK[0]}/{y0 // CHUNK[1]}/{x0 // CHUNK[2]}"
                        with open(os.path.join(store, key), "rb") as fh:
                            got = np.frombuffer(zlib.decompress(fh.read()), dtype=arr.dtype)
                        full = np.zeros(CHUNK, dtype=arr.dtype)
                        block = arr[t, c, z0 : z0 + CHUNK[0], y0 : y0 + CHUNK[1], x0 : x0 + CHUNK[2]]
                        full[: block.shape[0], : block.shape[1], : block.shape[2]] = block
                        if got.tobytes() != full.tobytes():
                            problems.append(f"zarr {sid}/{lvl} chunk {key} differs")
    zattrs = sorted(os.listdir(os.path.join(out, "_metadata")))
    if zattrs != sorted(f"{n}.zattrs" for n in names.values()):
        problems.append(f"_metadata holds {zattrs}")
    return problems


def stored_bytes(out: str) -> int:
    """On-disk bytes of every pyramid level in both sinks."""
    roots = glob.glob(os.path.join(out, "level=*")) + [os.path.join(out, "zarr")]
    return sum(harness.dir_bytes(root) for root in roots)


def traced_functions(tracer) -> None:
    from aind_protein_data_transformation_spark.arraylib import (
        blocks,
        decode,
        job,
        ome,
        pyramid,
        stacks,
    )

    tracer.wrap(job, "run_job")
    for name in ("scan_stack_dir", "deal_round_robin", "select_bucket", "stack_display_name"):
        tracer.wrap(stacks, name)
    for name in ("decode_stacks", "pad_to_5d"):
        tracer.wrap(decode, name)
    tracer.wrap(pyramid, "downsample_once")
    tracer.wrap(blocks, "encode_chunks")
    tracer.wrap(blocks, "write_level_parquet", label=lambda a, k: f"blocks.parquet.level{a[2]}")
    tracer.wrap(
        blocks,
        "write_zarr_v2_store",
        label=lambda a, k: f"blocks.zarr.level{os.path.basename(a[1])}",
    )
    for name in ("build_multiscales_metadata", "write_ome_ngff_json"):
        tracer.wrap(ome, name)


def layer_metrics(tracer, log, call_span, shapes, out: str) -> tuple[dict, list[str]]:
    """Per-module figures for one traced ``run_job`` call, and the
    problems met attributing them (each a failed check of the traced
    run).

    The lazily built layers are split out of the spans of the actions
    that force them, by stage:

    - ``run_job``'s own actions: the SQL execution with a stage that
      runs ``MapInPandas`` without reading a cache builds the decoded
      voxel table (decode); the executions before it list and claim the
      stacks.
    - each ``write_level_parquet`` action: its last two stages encode
      and write the chunks (the ``FlatMapGroupsInPandas`` stage and the
      shuffle-map stage feeding it, which reads the level back from
      cache — its cached-row count is the level's voxel count); for
      levels >= 1 the stages before them compute the windowed mean
      (pyramid).

    Stages that cannot be found, and row counts that differ from the
    numpy cascade's voxel counts, are problems: a plan change that
    breaks the attribution must not read as a layer taking no time.
    """
    from tracing import stage_sum, stages_under

    spans = [tracer.spans[i] for i in sorted(tracer.descendants(call_span.id))]

    def named(prefix):
        return [s for s in spans if s.name.startswith(prefix)]

    def ordered(stages):
        return sorted(stages, key=lambda st: st.id)

    own = ordered(st for st in stages_under(tracer, log, call_span.id) if tracer.span_of(st.desc) == call_span.id)
    builds = [
        st for st in own if "MapInPandas" in st.operators and "InMemoryTableScan" not in st.operators
    ]
    decode_exec = builds[0].execution if builds else None
    decode_st = [st for st in own if st.execution == decode_exec]
    first_decode = min((st.id for st in decode_st), default=0)
    claim_st = [st for st in own if st.id < first_decode and st.execution != decode_exec]
    problems = [] if builds else ["trace: no decode (MapInPandas) stage under run_job"]
    level_voxels = [sum(map(math.prod, level)) for level in zip(*map(cascade_shapes, shapes))]
    out_m = {
        "stacks.claim_s": sum(s.seconds for s in named("stacks.")) + stage_sum(claim_st)["seconds"],
        "stacks.files_claimed": len(shapes),
        "decode.s": stage_sum(decode_st)["seconds"],
        "decode.cpu_ms": stage_sum(decode_st)["cpu_ms"],
    }
    chunks = 0
    for lvl in range(LEVELS):
        level_spans = named(f"blocks.parquet.level{lvl}")
        stages = ordered(st for s in level_spans for st in stages_under(tracer, log, s.id))
        enc = next((i for i, st in enumerate(stages) if "FlatMapGroupsInPandas" in st.operators), 0)
        feeder = stages[enc - 1] if enc else None
        pyr = stages[: max(enc - 1, 0)]
        rows = feeder.rows.get("InMemoryTableScan", 0) if feeder else 0
        if not feeder:
            problems.append(f"trace: no encode (FlatMapGroupsInPandas) stage after a feeder at level {lvl}")
        elif rows != level_voxels[lvl]:
            problems.append(f"trace: level {lvl} reads {rows} cached rows, the cascade has {level_voxels[lvl]} voxels")
        if lvl and not pyr:
            problems.append(f"trace: no pyramid stage at level {lvl}")
        chunks += sum(st.rows.get("FlatMapGroupsInPandas", 0) for st in stages)
        pyr_sum = stage_sum(pyr)
        if lvl == 0:
            out_m["decode.voxel_rows"] = rows
        else:
            out_m[f"pyramid.level{lvl}.s"] = pyr_sum["seconds"]
            out_m[f"pyramid.level{lvl}.shuffle_bytes"] = pyr_sum["shuffle_write_bytes"]
            out_m[f"pyramid.level{lvl}.rows_out"] = rows
        out_m[f"blocks.parquet.level{lvl}.s"] = sum(s.seconds for s in level_spans) - pyr_sum["seconds"]
    zarr_spans = named("blocks.zarr.")
    zarr_ids = {i for s in zarr_spans for i in tracer.descendants(s.id)}
    out_m.update(
        {
            "blocks.parquet.bytes": sum(
                harness.dir_bytes(p) for p in glob.glob(os.path.join(out, "level=*"))
            ),
            "blocks.zarr.s": sum(s.seconds for s in zarr_spans),
            "blocks.zarr.jobs": sum(1 for d, _, _ in log.jobs.values() if tracer.span_of(d) in zarr_ids),
            "blocks.zarr.bytes": harness.dir_bytes(os.path.join(out, "zarr")),
            "blocks.chunks": chunks,
            "ome.s": sum(s.seconds for s in named("ome.")),
        }
    )
    if not out_m["blocks.zarr.jobs"]:
        problems.append("trace: no Spark job under the zarr sink's spans")
    return out_m, problems


def run(r: "harness.Run", size: str, seconds: float, tracer_factory=None) -> dict:
    from aind_protein_data_transformation_spark.arraylib import job

    t_gen = time.perf_counter()
    shapes = SIZES[size]
    in_dir = r.path("in", "stacks")
    files = datagen.write_stacks(in_dir, r.seed, shapes)
    stacks = dict(zip(files, shapes))
    names = {f: f.replace("(", "_").replace(").czi", "") for f in files}
    voxels = sum(math.prod(s) for s in shapes)
    gen_s = time.perf_counter() - t_gen

    r.start_session()
    setup_s = time.perf_counter() - r.t_start - gen_s

    tracer = tracer_factory(r.spark) if tracer_factory else None
    if tracer:
        traced_functions(tracer)

    calls, cpu, problems, outs, failed = [], [], [], [], 0
    t_end = time.perf_counter() + seconds
    expected = None
    while not calls or time.perf_counter() < t_end:
        out = r.path("out", f"pass{len(calls)}")
        settings = job.StackJobSettings(input_source=in_dir, output_directory=out, zarr_v2=True)
        c0, t0 = harness.tree_cpu_s(), time.perf_counter()
        try:
            response = job.run_job(r.spark, settings)
        except Exception as exc:  # a failed call is counted, not fatal
            response = job.JobResponse(1, repr(exc))
        calls.append(time.perf_counter() - t0)
        cpu.append(harness.tree_cpu_s() - c0)
        # outside the timed part: run_job leaves its persisted pyramid
        # levels cached; drop them so the next call starts clean
        r.spark.catalog.clearCache()
        if expected is None:
            t0 = time.perf_counter()
            base_dir = r.path("out", "baseline")
            os.makedirs(base_dir)
            expected, base_bytes = numpy_baseline(stacks, base_dir)
            baseline_s = time.perf_counter() - t0
        bad = [response.message] if response.status_code != 0 else check_output(out, expected, names)
        problems += bad
        failed += bool(bad)
        outs.append(out)
    run_s = harness.median(calls)
    out_bytes = stored_bytes(outs[0])
    result = {
        "attempted": len(calls),
        "failed": failed,
        "problems": problems,
        "setup_s": setup_s,
        "run_s": run_s,
        "calls": calls,
        "out_bytes_per_item": out_bytes / voxels,
        "named": {
            "voxels_per_s": (voxels / run_s, "voxel/s"),
            "run_cpu_s": (harness.median(cpu), "s"),
            "stored_bytes_per_voxel": (out_bytes / voxels, "B"),
            "baseline.numpy_pyramid_s": (baseline_s, "s"),
            "baseline.zlib_bytes_per_voxel": (base_bytes / voxels, "B"),
        },
        "inputs": {
            "stacks": len(shapes),
            "shapes_tczyx": [list(s) for s in shapes],
            "level0_voxels": voxels,
            "levels": LEVELS,
            "chunk": list(CHUNK),
        },
    }
    if tracer:
        result["tracer"] = tracer
        result["top_spans"] = [s for s in tracer.spans if s.parent is None]
        result["layer_fn"] = lambda log: layer_metrics(
            tracer, log, result["top_spans"][0], shapes, outs[0]
        )
    return result

"""Write sizing + blocked sinks (SURVEY.md §2A A17-A21).

The reference right-sizes its IO by growing storage chunks into write
blocks near a bytes target (``compress/zarr_writer.py:51-120``), then
streams block-by-block to keep the scheduler bounded at terabyte scale
(zarr_writer.py:188-213). In Spark the same levers are
``spark.sql.files.maxPartitionBytes`` / AQE advisory sizes and bounded
tasks, so the sizing helpers exist for parity with the reference's
numbers. The two sinks are partitioned zstd parquet and a
dependency-free zarr v2 store (zlib, level :data:`ZARR_ZLIB_LEVEL`).
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame

#: zlib level of the zarr v2 chunks: the reference's blosc-zstd level 3
#: (models.py:52-56), with zlib standing in for blosc.
ZARR_ZLIB_LEVEL = 3


def nbytes(shape: Sequence[int], itemsize: int) -> int:
    """Byte size of a dense array of ``shape`` (zarr_writer.py:15-26)."""
    if any(s <= 0 for s in shape):
        raise ValueError("shape must be > 0 in all dimensions")
    return math.prod(shape) * itemsize


def expand_chunks(
    chunks: Sequence[int],
    data_shape: Sequence[int],
    target_size: int,
    itemsize: int,
    mode: str = "iso",
) -> tuple[int, ...]:
    """Grow a chunk shape toward ``target_size`` bytes.

    Parity: zarr_writer.py:51-120. Two strategies, both producing
    integer multiples of the base chunk clamped to the data shape:

    - ``"cycle"``: double one dimension at a time, round-robin;
    - ``"iso"``: scale every dimension by the same integer i = 2, 3, ...

    Growth stops once the candidate reaches the target or covers the
    whole shape; of the last two candidates the one whose byte size is
    nearer the target wins, ties favoring the earlier (smaller) one.
    """
    if any(c < 1 for c in chunks):
        raise ValueError("chunks must be >= 1 for all dimensions")
    if any(s < 1 for s in data_shape):
        raise ValueError("data_shape must be >= 1 for all dimensions")
    if any(c > s for c, s in zip(chunks, data_shape)):
        raise ValueError("chunks cannot be larger than data_shape in any dimension")
    if target_size <= 0:
        raise ValueError("target_size must be > 0")
    if itemsize <= 0:
        raise ValueError("itemsize must be > 0")

    def clamped(shape: Sequence[int]) -> tuple[int, ...]:
        return tuple(min(int(c), int(s)) for c, s in zip(shape, data_shape))

    def candidates() -> Iterator[tuple[int, ...]]:
        if mode == "cycle":
            cur = list(chunks)
            dim = 0
            while True:
                yield tuple(cur)
                cur[dim % len(cur)] = min(data_shape[dim % len(cur)], cur[dim % len(cur)] * 2)
                dim += 1
                if all(c >= s for c, s in zip(cur, data_shape)):
                    yield tuple(cur)
                    return
        elif mode == "iso":
            i = 1
            while True:
                cur = clamped([c * i for c in chunks])
                yield cur
                i += 1
                if all(c >= s for c, s in zip(cur, data_shape)):
                    return
        else:
            raise ValueError(f"Invalid mode {mode}")

    prev = tuple(chunks)
    for cur in candidates():
        if nbytes(cur, itemsize) >= target_size:
            # Nearer of the two most recent candidates wins; tie -> prev.
            if abs(nbytes(cur, itemsize) - target_size) < abs(nbytes(prev, itemsize) - target_size):
                return cur
            return prev
        prev = cur
    return prev


def block_shape_for(
    chunks: Sequence[int],
    data_shape: Sequence[int],
    itemsize: int,
    target_size_mb: int = 409_600,
    mode: str = "cycle",
) -> tuple[int, ...]:
    """Write-block shape over the last 3 (spatial) dims.

    Parity: ``BlockedArrayWriter.get_block_shape`` (zarr_writer.py:215-244)
    including its 409,600 MB default; the reference's call site passes
    12,800 MB (czi_to_zarr.py:510-513).
    """
    return expand_chunks(
        tuple(chunks)[-3:], tuple(data_shape)[-3:], target_size_mb * 1024**2, itemsize, mode
    )


def gen_block_ranges(
    arr_shape: Sequence[int], block_shape: Sequence[int]
) -> Iterator[tuple[tuple[int, int], ...]]:
    """Enumerate ``(start, stop)`` ranges tiling ``arr_shape`` by blocks.

    Parity: ``BlockedArrayWriter.gen_slices`` (zarr_writer.py:129-186) —
    row-major order, edge blocks truncated. Expressed iteratively (an
    odometer over per-dim offsets) rather than recursively; at scale the
    same tiling is produced distributed by the SQL-checkable query
    ``grid_block_slices`` (sequence × explode).
    """
    if len(arr_shape) != len(block_shape):
        raise ValueError("array shape and block shape have different lengths")
    per_dim = [
        [(i, min(i + b, s)) for i in range(0, s, b)]
        for s, b in zip(arr_shape, block_shape)
    ]
    idx = [0] * len(per_dim)
    while True:
        yield tuple(per_dim[d][idx[d]] for d in range(len(per_dim)))
        for d in reversed(range(len(per_dim))):
            idx[d] += 1
            if idx[d] < len(per_dim[d]):
                break
            idx[d] = 0
        else:
            return


def write_level_parquet(df: DataFrame, output_path: str, level: int) -> None:
    """Materialize one pyramid level as zstd parquet under ``level=<k>/``.

    The Spark analog of A20/A21 (create_dataset + blocked store): Spark
    tasks are already bounded writers, so the blocked-store machinery
    reduces to a partitioned write.
    """
    df.write.mode("overwrite").option("compression", "zstd").parquet(f"{output_path}/level={level}")


def encode_chunks(
    voxels: DataFrame,
    chunk_size: Sequence[int],
    stack_spatial_shapes: dict[str, Sequence[int]],
) -> DataFrame:
    """Voxel rows -> chunk rows ``(stack_id, t, c, z0, y0, x0, shape, payload)``.

    The storage-boundary encoding (SURVEY.md §1.1): each chunk-grid cell
    becomes one row whose ``payload`` is the dense C-order buffer of its
    voxels in the stack's declared dtype. ``applyInPandas`` groups by the
    grid key, so the shuffle is the rechunk (A9) and the encode itself is
    a vectorized per-group reshape.

    Block extents follow the reference's fixed-chunk contract
    (zarr_writer.py: chunk extents clamped to array bounds, NOT derived
    from which voxels happen to be present): ``stack_spatial_shapes``
    ({stack_id: (Z, Y, X)}) clamps each cell to ``min(chunk, shape -
    origin)``, and voxels missing from a cell stay zero.
    """
    import numpy as np
    import pandas as pd

    cz, cy, cx = (int(c) for c in chunk_size)

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        dtype = pdf["dtype"].iloc[0]
        z0 = int(pdf["gz"].iloc[0]) * cz
        y0 = int(pdf["gy"].iloc[0]) * cy
        x0 = int(pdf["gx"].iloc[0]) * cx
        sz, sy, sx = stack_spatial_shapes[pdf["stack_id"].iloc[0]]
        dz = min(cz, sz - z0)
        dy = min(cy, sy - y0)
        dx = min(cx, sx - x0)
        block = np.zeros((dz, dy, dx), dtype=dtype)
        block[pdf["z"] - z0, pdf["y"] - y0, pdf["x"] - x0] = pdf["v"].to_numpy()
        return pd.DataFrame(
            {
                "stack_id": [pdf["stack_id"].iloc[0]],
                "dtype": [dtype],
                "t": [int(pdf["t"].iloc[0])],
                "c": [int(pdf["c"].iloc[0])],
                "z0": [z0],
                "y0": [y0],
                "x0": [x0],
                "shape": [[dz, dy, dx]],
                "payload": [block.tobytes()],
            }
        )

    from pyspark.sql import functions as F

    keyed = voxels.withColumns(
        {
            "gz": (F.col("z") / cz).cast("long"),
            "gy": (F.col("y") / cy).cast("long"),
            "gx": (F.col("x") / cx).cast("long"),
        }
    )
    return keyed.groupBy("stack_id", "t", "c", "gz", "gy", "gx").applyInPandas(
        encode,
        schema=(
            "stack_id string, dtype string, t int, c int, "
            "z0 long, y0 long, x0 long, shape array<int>, payload binary"
        ),
    )


def write_zarr_v2_store(
    chunk_df: DataFrame,
    store_path: str,
    shapes: dict[str, Sequence[int]],
    chunks: Sequence[int],
    dtypes: dict[str, str],
) -> None:
    """Dependency-free **format-valid zarr v2** array stores, one per stack.

    Writes real zarr v2 arrays any zarr reader opens, using only the
    stdlib — ``.zarray`` metadata plus one file per chunk keyed
    ``t/c/gz/gy/gx`` (``dimension_separator="/"``, the reference's
    layout, czi_to_zarr.py:551). Codec is ``zlib`` (a numcodecs
    built-in) standing in for the reference's blosc-zstd — the format
    contract (metadata, keys, C-order full-chunk buffers) is exact;
    only the compressor id differs.

    ``shapes`` and ``dtypes`` map each ``stack_id`` in ``chunk_df`` to
    its array's TCZYX shape and dtype. The literal ``{stack_id}`` in
    ``store_path`` is replaced by each stack's id (``str.replace``, so
    other braces in the path survive); without it the path names one
    store and only one stack may be given.

    Per the v2 spec, EDGE CHUNKS ARE STORED FULL-SIZE: a block that
    under-fills its chunk is zero-padded to ``chunks`` before encoding
    (fill_value 0). Every stack's chunks land in ONE ``foreachPartition``
    job: each executor routes a row to its stack's store by
    ``row.stack_id`` — chunk grid cells never overlap, so no write
    coordination is needed; the driver writes only the metadata keys.

    Commit order: a store's ``.zarray`` is its commit point. Any stale
    ``.zarray`` is removed before the chunk job, each chunk lands under
    a dot-prefixed temp name and is ``os.replace``-d into place (a
    killed task leaves no torn chunk), and ``.zarray`` is written only
    after the job returns. A failed job therefore leaves no ``.zarray``
    — never a store a reader would open and silently fill with
    ``fill_value`` for the missing chunks.
    """
    import json as _json

    import numpy as np

    if "{stack_id}" not in store_path and len(shapes) > 1:
        raise ValueError(
            f"{len(shapes)} stacks would share the store {store_path!r}: "
            "put '{stack_id}' in the path"
        )
    chunks_t = [int(c) for c in chunks]
    stores = {sid: store_path.replace("{stack_id}", sid) for sid in shapes}
    dtype_strs = {sid: np.dtype(dtypes[sid]).str for sid in shapes}
    for path in stores.values():
        os.makedirs(path, exist_ok=True)
        if os.path.exists(os.path.join(path, ".zarray")):
            os.remove(os.path.join(path, ".zarray"))

    _, _, cz, cy, cx = chunks_t

    def write_partition(rows) -> None:
        import zlib

        import numpy as _np

        for row in rows:
            dtype_str = dtype_strs[row.stack_id]
            block = _np.frombuffer(bytes(row.payload), dtype=dtype_str).reshape(
                list(row.shape)
            )
            full = _np.zeros((cz, cy, cx), dtype=dtype_str)
            full[: block.shape[0], : block.shape[1], : block.shape[2]] = block
            gz, gy, gx = row.z0 // cz, row.y0 // cy, row.x0 // cx
            d = os.path.join(
                stores[row.stack_id], str(int(row.t)), str(int(row.c)), str(gz), str(gy)
            )
            os.makedirs(d, exist_ok=True)
            tmp = os.path.join(d, f".{gx}.{os.getpid()}.tmp")
            with open(tmp, "wb") as fh:
                fh.write(zlib.compress(full.tobytes(order="C"), ZARR_ZLIB_LEVEL))
            os.replace(tmp, os.path.join(d, str(gx)))

    chunk_df.foreachPartition(write_partition)
    for sid, path in stores.items():
        meta = {
            "zarr_format": 2,
            "shape": [int(s) for s in shapes[sid]],
            "chunks": chunks_t,
            "dtype": dtype_strs[sid],
            "compressor": {"id": "zlib", "level": ZARR_ZLIB_LEVEL},
            "fill_value": 0,
            "order": "C",
            "filters": None,
            "dimension_separator": "/",
        }
        with open(os.path.join(path, ".zarray"), "w") as fh:
            _json.dump(meta, fh, indent=2)



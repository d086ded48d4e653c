"""Binary stack -> voxel rows (SURVEY.md §2A A5-A8).

A5 in the reference is ``BioImage(..., reader=bioio_czi.Reader)``
(zeiss_job.py:145-153): a lazy 5-D dask array per file. Here the decode
is a ``mapInPandas`` over the ``binaryFile`` scan — one Arrow batch of
voxel rows per chunk — with a pluggable decoder. Real CZI decoding needs
``bioio``/``bioio_czi`` (not installed in this environment); the module
ships a deterministic synthetic decoder with the same shape contract so
the Spark-side plumbing (schema, batching, partitioning) is fully
exercised, and raises ``NotImplementedError`` if real CZI bytes reach it.

A6-A8 (squeeze / extract_data / pad) become column projections on the
long-form voxel table — adding or dropping constant index columns.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Long-form voxel schema. ``v`` is DOUBLE regardless of source dtype —
#: Spark has no unsigned ints (SURVEY.md §1.2); the true dtype travels in
#: ``dtype`` and is reimposed at codec/sink boundaries.
VOXEL_SCHEMA = (
    "stack_id string, dtype string, t int, c int, z long, y long, x long, v double"
)

#: Stack dtypes the pipeline carries exactly: every value of each is a
#: DOUBLE without loss. 64-bit integers are not (DOUBLE is exact only
#: below 2^53), so ``decode_stacks`` refuses them and anything else.
SUPPORTED_DTYPES = frozenset(
    {"uint8", "uint16", "uint32", "int8", "int16", "int32", "float32", "float64"}
)

Decoder = Callable[[str, bytes], tuple[np.ndarray, str]]


def synthetic_decoder(path: str, content: bytes) -> tuple[np.ndarray, str]:
    """Deterministic stand-in for the CZI reader.

    Derives a small TCZYX uint16 array purely from the file bytes: the
    header encodes the shape as ASCII ``T,C,Z,Y,X;`` and voxel (t,c,z,y,x)
    holds a mixed-radix linear index modulo 1000 — reproducible on any
    executor with no RNG. Raises for real CZI payloads (magic ``ZISRAW``),
    which require the external bioio stack.
    """
    if content[:6] == b"ZISRAW":
        raise NotImplementedError(
            "real CZI decoding requires bioio/bioio_czi; not available here"
        )
    header, _, _ = content.partition(b";")
    try:
        shape = tuple(int(p) for p in header.decode("ascii").split(","))
    except (UnicodeDecodeError, ValueError) as exc:
        raise ValueError(f"{path}: not a synthetic stack payload") from exc
    if len(shape) != 5:
        raise ValueError(f"{path}: expected 5-D shape header, got {shape}")
    flat = np.arange(np.prod(shape), dtype=np.int64) % 1000
    return flat.reshape(shape).astype(np.uint16), "uint16"


def bioio_decoder() -> Decoder:
    """Real CZI decoder factory (reference zeiss_job.py:145-153):
    ``BioImage(path, reader=bioio_czi.Reader)`` -> dense 5-D TCZYX array.

    Import-gated: raises ImportError where bioio/bioio_czi are not
    installed (this container). The returned closure is the drop-in
    ``decoder`` argument to :func:`decode_stacks` / ``run_job`` — the
    ONLY difference between the synthetic pipeline and a production CZI
    run is which decoder is passed; every downstream stage (pad,
    rechunk, pyramid, sinks, OME metadata) is decoder-agnostic.

    Note the content bytes are ignored: bioio reads from the path (CZI
    is a seekable container format; decoding from an in-memory blob
    would force the whole file through the driver). The binaryFile scan
    should therefore list with ``with_content=False`` when using this
    decoder at scale.
    """
    import bioio  # noqa: F401 — fail fast, before executors
    import bioio_czi  # noqa: F401

    def decode(path: str, content: bytes) -> tuple[np.ndarray, str]:
        from bioio import BioImage
        from bioio_czi import Reader

        img = BioImage(path.removeprefix("file:"), reader=Reader)
        arr = np.asarray(img.dask_data)  # TCZYX per the reference contract
        return arr, str(arr.dtype)

    return decode


def decode_stacks(files_df: DataFrame, decoder: Decoder = synthetic_decoder) -> DataFrame:
    """A5: decode each stack file into long-form voxel rows.

    ``mapInPandas`` streams one Arrow batch per decoded array, so a
    1000-executor cluster decodes 1000 stacks concurrently with no
    driver involvement; each task holds one stack's ndarray, mirroring
    the reference's one-process-one-stack memory bound. A stack whose
    dtype is not in :data:`SUPPORTED_DTYPES` raises ``ValueError``
    naming the stack and the dtype, before any of its voxel rows.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                arr, dtype = decoder(path, bytes(content))
                stack_id = path.rsplit("/", 1)[-1]
                if dtype not in SUPPORTED_DTYPES:
                    raise ValueError(
                        f"stack {stack_id}: dtype {dtype} is not supported "
                        f"(voxels travel as DOUBLE; supported: "
                        f"{', '.join(sorted(SUPPORTED_DTYPES))})"
                    )
                t, c, z, y, x = np.indices(arr.shape).reshape(5, -1)
                yield pd.DataFrame(
                    {
                        "stack_id": stack_id,
                        "dtype": dtype,
                        "t": t.astype(np.int32),
                        "c": c.astype(np.int32),
                        "z": z.astype(np.int64),
                        "y": y.astype(np.int64),
                        "x": x.astype(np.int64),
                        "v": arr.reshape(-1).astype(np.float64),
                    }
                )

    return files_df.select("path", "content").mapInPandas(decode, schema=VOXEL_SCHEMA)


#: TCZYX index columns, outermost first.
AXES = ("t", "c", "z", "y", "x")


def squeeze(df: DataFrame) -> DataFrame:
    """A6: drop size-1 leading axes (zeiss_job.py:153).

    A long-form table "has" a size-1 axis when the column is constant
    zero; dropping it is a projection. Only leading axes are considered,
    matching ``da.squeeze`` on freshly-read TCZYX data.
    """
    present = [a for a in AXES if a in df.columns]
    mins_maxs = df.agg(
        *[F.min(a).alias(f"min_{a}") for a in present],
        *[F.max(a).alias(f"max_{a}") for a in present],
    ).first()
    drop: list[str] = []
    for a in present:
        if mins_maxs[f"min_{a}"] == 0 and mins_maxs[f"max_{a}"] == 0:
            drop.append(a)
        else:
            break
    return df.drop(*drop) if drop else df


def extract_last_dims(df: DataFrame, last_dimensions: int) -> DataFrame:
    """A7: keep exactly the last ``k`` axes (utils/utils.py:58-108) —
    earlier axes are fixed at index 0 (a filter) then projected away."""
    present = [a for a in AXES if a in df.columns]
    if last_dimensions > len(present):
        raise ValueError(
            f"last_dimensions={last_dimensions} exceeds ndim={len(present)}"
        )
    leading = present[: len(present) - last_dimensions]
    out = df
    for a in leading:
        out = out.filter(F.col(a) == 0).drop(a)
    return out


def pad_to_5d(df: DataFrame) -> DataFrame:
    """A8: prepend constant-0 axes until all of TCZYX exist
    (utils/utils.py:33-55); more than 5 axes is an error there, here
    impossible by schema."""
    out = df
    for a in AXES:
        if a not in out.columns:
            out = out.withColumn(a, F.lit(0).cast("int" if a in ("t", "c") else "long"))
    # Canonical column order: ids, axes, value.
    front = [c for c in out.columns if c not in AXES and c != "v"]
    return out.select(*front, *AXES, "v")

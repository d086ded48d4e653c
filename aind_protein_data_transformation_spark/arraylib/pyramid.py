"""Multiscale pyramid (SURVEY.md §2A A10-A11) — the reference's core math.

The reference computes each level with ``xarray_multiscale.multiscale(
reduction=windowed_mean, preserve_dtype=True)`` (czi_to_zarr.py:342-386)
and cascades level k -> k+1 through a write-then-read-back loop
(czi_to_zarr.py:522-557). Over the long-form voxel table the windowed
mean is a hash aggregate on the floor-divided grid — partial aggregation
(map-side combine) makes the shuffle carry one row per *output* voxel,
an 8x reduction per level at scale_factor 2×2×2, so the cascade's total
shuffle volume is a geometric series bounded by ~1.14x the input.

Dtype preservation: every level is stored in the stack's dtype before
the next level averages it, as the reference's write-then-read-back
does. numpy's ``astype`` truncates integers toward zero and Spark's
``double -> long`` cast does the same; ``float32`` levels round to
nearest through a ``float`` cast. Both are bit-for-bit with a numpy
cascade (tests/test_arraylib.py). 64-bit integers are refused at decode
(``decode.SUPPORTED_DTYPES``): ``v`` is a DOUBLE, exact only below
2^53. Edge windows (shape not divisible by the factor) average over the
voxels present.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Reference defaults: 4 levels, 2×2×2, 128³ chunks (models.py:62-76).
DEFAULT_SCALE_FACTOR = (2, 2, 2)
DEFAULT_N_LEVELS = 4
DEFAULT_CHUNK_SIZE = (128, 128, 128)

_INT_DTYPES = {"int8", "int16", "int32", "uint8", "uint16", "uint32"}


def downsample_once(
    df: DataFrame,
    scale_factor: Sequence[int] = DEFAULT_SCALE_FACTOR,
) -> DataFrame:
    """A10: one windowed-mean reduction of the voxel table.

    ``groupBy(t, c, z div fz, y div fy, x div fx).avg(v)`` — Catalyst
    plans a partial+final hash aggregate; no pre-repartition needed (the
    exchange after partial agg moves already-reduced rows). ``dtype`` is
    a grouping key, not a ``first`` aggregate: it is constant per stack,
    so the groups are the same, and a string ``first`` buffer would
    force a sort aggregate over every input voxel.
    """
    fz, fy, fx = scale_factor
    # Store the mean in the stack's dtype: truncation toward zero for
    # integers (== numpy astype), round-to-nearest for float32.
    mean = F.avg("v")
    value = (
        F.when(F.col("dtype").isin(*_INT_DTYPES), mean.cast("long").cast("double"))
        .when(F.col("dtype") == "float32", mean.cast("float").cast("double"))
        .otherwise(mean)
    )
    return df.groupBy(
        "stack_id",
        "dtype",
        "t",
        "c",
        (F.col("z") / F.lit(fz)).cast("long").alias("z"),
        (F.col("y") / F.lit(fy)).cast("long").alias("y"),
        (F.col("x") / F.lit(fx)).cast("long").alias("x"),
    ).agg(value.alias("v"))


def build_pyramid(
    df: DataFrame,
    n_levels: int = DEFAULT_N_LEVELS,
    scale_factor: Sequence[int] = DEFAULT_SCALE_FACTOR,
) -> list[DataFrame]:
    """A11: the cascading multiscale loop.

    Level 0 is the input; level k+1 is ``downsample_once`` of level k —
    mean-of-(truncated-)means per level, exactly the reference's
    levelwise recursion (czi_to_zarr.py:534-540), NOT a single deep
    average. The levels stay lazy; ``job.run_job`` persists each level
    before its write.
    """
    levels = [df]
    for _ in range(1, n_levels):
        levels.append(downsample_once(levels[-1], scale_factor))
    return levels

"""Multiscale pyramid (SURVEY.md §2A A9-A12) — the reference's core math.

The reference computes each level with ``xarray_multiscale.multiscale(
reduction=windowed_mean, preserve_dtype=True)`` (czi_to_zarr.py:342-386)
and cascades level k -> k+1 through a write-then-read-back loop
(czi_to_zarr.py:522-557). Over the long-form voxel table the windowed
mean is a hash aggregate on the floor-divided grid — partial aggregation
(map-side combine) makes the shuffle carry one row per *output* voxel,
an 8x reduction per level at scale_factor 2×2×2, so the cascade's total
shuffle volume is a geometric series bounded by ~1.14x the input.

Dtype preservation: numpy's ``astype`` truncates toward zero; Spark's
``double -> long`` cast does the same, so integer dtypes round-trip
bit-for-bit (goldens in tests/test_arraylib.py). Edge windows (shape not
divisible by the factor) average over the voxels present.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Reference defaults: 4 levels, 2×2×2, 128³ chunks (models.py:62-76).
DEFAULT_SCALE_FACTOR = (2, 2, 2)
DEFAULT_N_LEVELS = 4
DEFAULT_CHUNK_SIZE = (128, 128, 128)

_INT_DTYPES = {"int8", "int16", "int32", "int64", "uint8", "uint16", "uint32", "uint64"}


def grid_repartition(df: DataFrame, chunk_size: Sequence[int] = DEFAULT_CHUNK_SIZE) -> DataFrame:
    """A9 (rechunk): co-locate each storage chunk's voxels in one partition.

    Keyed by the chunk-grid coordinate so a downstream chunk encode or
    zarr write never shuffles twice; AQE coalesces small grids.
    """
    cz, cy, cx = chunk_size
    return df.repartition(
        F.col("stack_id"),
        F.col("t"),
        F.col("c"),
        (F.col("z") / F.lit(cz)).cast("long"),
        (F.col("y") / F.lit(cy)).cast("long"),
        (F.col("x") / F.lit(cx)).cast("long"),
    )


def downsample_once(
    df: DataFrame,
    scale_factor: Sequence[int] = DEFAULT_SCALE_FACTOR,
    preserve_dtype: bool = True,
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
    value = F.avg("v")
    if preserve_dtype:
        # Truncation-toward-zero for integer dtypes == numpy astype.
        value = F.when(
            F.col("dtype").isin(*_INT_DTYPES), F.avg("v").cast("long").cast("double")
        ).otherwise(F.avg("v"))
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
    preserve_dtype: bool = True,
    materialize_dir: str | None = None,
    spark: SparkSession | None = None,
) -> list[DataFrame]:
    """A11: the cascading multiscale loop.

    Level 0 is the input; level k+1 is ``downsample_once`` of level k —
    mean-of-(truncated-)means per level, exactly the reference's
    levelwise recursion (czi_to_zarr.py:534-540), NOT a single deep
    average.

    ``materialize_dir`` reproduces the reference's write-then-read-back
    lineage truncation ("It's faster to write the scale and then read it
    back", czi_to_zarr.py:527-528): each level lands as zstd parquet and
    the next level scans that — at 100 TB this caps the plan depth and
    lets every level's shuffle size derive from real file statistics.
    Without it the levels stay lazy (fine for few levels / small grids).
    """
    levels = [df]
    current = df
    for lvl in range(1, n_levels):
        if materialize_dir is not None:
            if spark is None:
                raise ValueError("materialize_dir requires the spark session")
            path = os.path.join(materialize_dir, f"level={lvl - 1}")
            current.write.mode("overwrite").option("compression", "zstd").parquet(path)
            current = spark.read.parquet(path)
            levels[lvl - 1] = current
        current = downsample_once(current, scale_factor, preserve_dtype)
        levels.append(current)
    return levels


def channel_stats(df: DataFrame, approx: bool = False) -> DataFrame:
    """A12: per-channel rendering stats.

    The reference derives min/max from the dtype alone (czi_to_zarr.py:
    461-475; see :func:`...arraylib.ome.dtype_range`) and explicitly
    rejects ``da.percentile`` as too slow (478-480). The engine offers
    the data-driven path anyway because Spark's ``percentile_approx``
    is a single-pass sketch: ``approx=True`` computes the (0.1%, 95%)
    render window the reference wished for.
    """
    if approx:
        pcts = F.percentile_approx("v", F.array(F.lit(0.001), F.lit(0.95)))
        return df.groupBy("c").agg(
            F.element_at(pcts, 1).alias("window_start"),
            F.element_at(pcts, 2).alias("window_end"),
            F.min("v").alias("v_min"),
            F.max("v").alias("v_max"),
        )
    return df.groupBy("c").agg(F.min("v").alias("v_min"), F.max("v").alias("v_max"))

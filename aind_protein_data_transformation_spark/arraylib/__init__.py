"""Reference-fidelity array layer (SURVEY.md §2A).

The reference is an array ETL pipeline: scan a directory of microscopy
stacks, deal them across workers, decode each to a 5-D TCZYX array,
rechunk, compute a windowed-mean multiscale pyramid, and write each
level compressed with OME-NGFF metadata. This subpackage re-expresses
every stage over Spark DataFrames:

- :mod:`.stacks`  — A1 directory scan, A2 round-robin deal, A3 partition
  pruning, A4 regex rename.
- :mod:`.decode`  — A5 binary->voxel decode (``mapInPandas``), A6 squeeze,
  A7 extract_data, A8 pad-to-5D.
- :mod:`.pyramid` — A10 dtype-preserving windowed mean, A11 cascading
  multiscale.
- :mod:`.ome`     — A12 dtype-range channel stats, A13-A16 OME-NGFF
  metadata generation (pure functions).
- :mod:`.blocks`  — A9 rechunk (the chunk encode's grid shuffle), A17
  fixed codecs (parquet zstd, zarr zlib), A18 chunk->block expansion,
  A19 block-slice enumeration, A20/A21 sinks (zstd parquet; zarr v2).
- :mod:`.job`     — A24/A25 settings + end-to-end runner.

Data model: a **long-form voxel table** ``(stack_id, t, c, z, y, x, v)``
for computation, and a **chunk table** ``(stack_id, level, t, c, z0, y0,
x0, shape, payload)`` at the storage boundary. At 100 TB the voxel form
never materializes globally — each operator keeps Catalyst in charge of
partitioning, and the pyramid cascade materializes one level at a time
exactly like the reference's write-then-read-back loop
(czi_to_zarr.py:527-529).
"""

from aind_protein_data_transformation_spark.arraylib import blocks, decode, ome, pyramid, stacks

__all__ = ["blocks", "decode", "ome", "pyramid", "stacks"]

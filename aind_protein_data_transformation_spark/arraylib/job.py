"""End-to-end stack compression job (SURVEY.md §2A A24-A25).

The reference's ``ZeissCompressionJob.run_job`` (zeiss_job.py:222-241)
is: scan + sort -> round-robin -> claim one bucket -> per-stack
(rename, decode, rechunk, pad, pyramid, blocked compressed write, OME
metadata) -> structured response. Its CLI entry parses settings from
argv JSON / config file / env (zeiss_job.py:245-260; note the latent
line-258 bug that breaks the CLI path — reproduced here as a *fixed*
equivalent, not bug-for-bug).

In Spark the per-stack driver loop (A24) disappears: all claimed stacks
decode and reduce as one DataFrame lineage keyed by ``stack_id``, and
Spark's scheduler replaces SLURM. ``num_partitions``/``bucket`` are kept
so N independent job invocations still split work identically to the
reference's 5-task deployment; a single cluster run uses the default
(1 bucket = everything).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import asdict, dataclass

from pyspark.sql import SparkSession

from aind_protein_data_transformation_spark.arraylib import blocks, decode, ome, pyramid, stacks


def _is_int(value) -> bool:
    return isinstance(value, int) and not isinstance(value, bool)


@dataclass
class StackJobSettings:
    """Typed job config (parity: models.py:23-76 ``ZeissJobSettings``)."""

    input_source: str
    output_directory: str
    num_of_partitions: int = 1
    partition_to_process: int = 0
    chunk_size: tuple[int, int, int] = pyramid.DEFAULT_CHUNK_SIZE
    scale_factor: tuple[int, int, int] = pyramid.DEFAULT_SCALE_FACTOR
    downsample_levels: int = pyramid.DEFAULT_N_LEVELS
    glob: str = "*.czi"
    s3_location: str | None = None
    #: also emit a dependency-free zarr v2 store per stack per level
    #: (blocks.write_zarr_v2_store) alongside the parquet levels — a
    #: format-valid twin of the reference's OME-Zarr output, readable
    #: by any zarr reader (zlib codec where the reference uses blosc).
    zarr_v2: bool = False

    def __post_init__(self) -> None:
        # counts arrive from CLI JSON or a config file, where 2.0 is a
        # float and true is a bool (an int subclass): reject both here,
        # not in range() after outputs are written
        for name in ("num_of_partitions", "partition_to_process", "downsample_levels"):
            value = getattr(self, name)
            if not _is_int(value):
                raise ValueError(f"{name} must be an int, got {value!r}")
        # a truthy "false" string would turn the zarr sink on
        if not isinstance(self.zarr_v2, bool):
            raise ValueError(f"zarr_v2 must be a bool, got {self.zarr_v2!r}")
        if not 0 <= self.partition_to_process < self.num_of_partitions:
            raise ValueError("partition_to_process must be in [0, num_of_partitions)")
        if self.downsample_levels < 1:
            raise ValueError("downsample_levels must be >= 1")
        for name in ("chunk_size", "scale_factor"):
            value = getattr(self, name)
            if not (
                isinstance(value, (tuple, list))
                and len(value) == 3
                and all(_is_int(v) and v >= 1 for v in value)
            ):
                raise ValueError(f"{name} must be 3 ints >= 1, got {value!r}")

    @property
    def output_root(self) -> str:
        """Write target. With ``s3_location`` set, Spark writes straight
        to ``s3a://`` — the reference's aws-cli sync + local delete
        (A23, utils/utils.py:138-201) collapses into the sink itself."""
        if self.s3_location:
            return self.s3_location.replace("s3://", "s3a://", 1)
        return self.output_directory


@dataclass
class JobResponse:
    """Structured result (parity: zeiss_job.py:239-241)."""

    status_code: int
    message: str
    data: str | None = None


def upload_derivatives_folder(spark: SparkSession, settings: StackJobSettings) -> str:
    """Sync ``<input_source>/derivatives`` to ``<output_root>/derivatives``.

    Parity: the reference's ``_upload_derivatives_folder``
    (zeiss_job.py:202-220, aws-cli sync; missing source raises
    FileNotFoundError). Copied through the Hadoop FileSystem API so the
    same code path serves ``file://`` and ``s3a://`` targets — no
    subprocess, no aws CLI.
    """
    src = os.path.join(settings.input_source, "derivatives")
    if not os.path.isdir(src):
        raise FileNotFoundError(f"{src} does not exist.")
    dest = f"{settings.output_root}/derivatives"
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    src_path = jvm.org.apache.hadoop.fs.Path(f"file://{os.path.abspath(src)}")
    dst_path = jvm.org.apache.hadoop.fs.Path(dest)
    jvm.org.apache.hadoop.fs.FileUtil.copy(
        src_path.getFileSystem(conf),
        src_path,
        dst_path.getFileSystem(conf),
        dst_path,
        False,  # deleteSource
        True,  # overwrite
        conf,
    )
    return dest


def run_job(
    spark: SparkSession,
    settings: StackJobSettings,
    decoder: decode.Decoder = decode.synthetic_decoder,
) -> JobResponse:
    """Run the full pipeline for this invocation's bucket of stacks."""
    from pyspark.sql import functions as F

    t0 = time.time()
    # Derivatives upload is gated on partition 0 so N concurrent job
    # invocations sync the shared folder exactly once (reference
    # zeiss_job.py:228-231; enabled here, tolerant of absence).
    if settings.partition_to_process == 0 and settings.s3_location:
        if os.path.isdir(os.path.join(settings.input_source, "derivatives")):
            upload_derivatives_folder(spark, settings)
    # Deal/claim on the METADATA listing only — the round-robin window is
    # a global sort, and it must never see content bytes (stacks.py's
    # listing-not-data invariant). Content is scanned separately and
    # filtered to the claimed paths, which Catalyst turns into an In
    # predicate on the binaryFile index.
    listing = stacks.scan_stack_dir(spark, settings.input_source, settings.glob)
    claimed = stacks.select_bucket(
        stacks.deal_round_robin(listing, settings.num_of_partitions),
        settings.partition_to_process,
    ).withColumn("stack_name", stacks.stack_display_name("path"))

    stack_meta = [
        (row.path, row.stack_name) for row in claimed.select("path", "stack_name").collect()
    ]
    if not stack_meta:
        return JobResponse(1, f"No stacks claimed for bucket {settings.partition_to_process}")

    content = stacks.scan_stack_dir(
        spark, settings.input_source, settings.glob, with_content=True
    ).filter(F.col("path").isin([p for p, _ in stack_meta]))

    # Persist the decoded voxels: they feed level-0 encode, the cascade,
    # and the shape/dtype aggregations — without this the binary decode
    # re-runs once per consumer (the reference bounds this with its
    # write-then-read-back loop, czi_to_zarr.py:527-529; persist is the
    # in-memory equivalent, spilling to disk when needed).
    voxels = decode.pad_to_5d(decode.decode_stacks(content, decoder)).persist()
    current = voxels
    try:
        # Per-stack full-res shapes and dtypes, needed up front: chunk
        # extents at every level clamp to the DECLARED dims (min(chunk,
        # shape - origin), the reference's fixed-chunk contract
        # zarr_writer.py:62-64), never to whichever voxels happen to be
        # present — so a sparse tail (a decoder that elides empty voxels)
        # can't silently truncate a block. Also feeds the zarr sink and the
        # OME-NGFF sidecars below. One tiny agg over the persisted voxels
        # (dtype is constant per stack, so it groups without splitting a
        # stack); O(stacks) rows.
        shapes, stack_dtypes = {}, {}
        for row in (
            voxels.groupBy("stack_id", "dtype")
            .agg(*(F.max(axis).alias(axis) for axis in "tczyx"))
            .collect()
        ):
            shapes[row["stack_id"]] = tuple(row[axis] + 1 for axis in "tczyx")
            stack_dtypes[row["stack_id"]] = row["dtype"]

        out_root = settings.output_root
        zarr_root = os.path.join(settings.output_directory, "zarr")
        if settings.zarr_v2:
            # one zarr group per stack holding an array per level
            # (the reference's per-stack group, czi_to_zarr.py:483-485)
            for sid in shapes:
                grp = os.path.join(zarr_root, sid)
                os.makedirs(grp, exist_ok=True)
                with open(os.path.join(grp, ".zgroup"), "w") as fh:
                    json.dump({"zarr_format": 2}, fh)
        for lvl in range(settings.downsample_levels):
            previous = current
            if lvl > 0:
                # persist each level before its write so level k+1 derives
                # from the materialized level k, not a recomputed lineage
                current = pyramid.downsample_once(current, settings.scale_factor).persist()
            level_shapes = {
                sid: ome.level_shape(shape, settings.scale_factor, lvl)
                for sid, shape in shapes.items()
            }
            chunked = blocks.encode_chunks(
                current,
                settings.chunk_size,
                {sid: shape[2:] for sid, shape in level_shapes.items()},
            )
            blocks.write_level_parquet(chunked, out_root, lvl)
            if settings.zarr_v2:
                # every stack's zarr v2 array for this level in one job,
                # read back from the parquet just written — the encode runs
                # once per level (the reference's write-then-read-back,
                # czi_to_zarr.py:527-528). The explicit schema skips the
                # footer-inference job.
                blocks.write_zarr_v2_store(
                    spark.read.schema(chunked.schema).parquet(f"{out_root}/level={lvl}"),
                    os.path.join(zarr_root, "{stack_id}", str(lvl)),
                    level_shapes,
                    (1, 1, *settings.chunk_size),
                    stack_dtypes,
                )
            if lvl > 0:
                # level k is written (and so materialized): level k-1
                # has no consumer left
                previous.unpersist()
        # Metadata always lands in the local output_directory (a few KB per
        # stack) — including S3 runs, where the data goes to s3a:// but the
        # sidecars must not be silently dropped. A production deployment
        # would additionally upload this directory (the reference's A23
        # derivatives sync, zeiss_job.py:202-220).
        metadata_dir = os.path.join(settings.output_directory, "_metadata")
        for path, stack_name in stack_meta:
            stack_id = path.rsplit("/", 1)[-1]
            shape = shapes.get(stack_id)
            if shape is None:
                continue
            attrs = ome.build_multiscales_metadata(
                image_name=stack_name,
                data_shape=shape,
                n_levels=settings.downsample_levels,
                scale_factor=settings.scale_factor,
                voxel_size=(1.0, 1.0, 1.0),
                chunks=(1, 1, *settings.chunk_size),
                channel_minmax=[ome.dtype_range(stack_dtypes[stack_id])] * shape[1],
            )
            ome.write_ome_ngff_json(attrs, metadata_dir, f"{stack_name}.zattrs")
    finally:
        # the last persisted level (level 0 is voxels itself) and the
        # voxels are released on every exit, the error path included
        current.unpersist()
        voxels.unpersist()
    return JobResponse(
        0,
        f"Processed {len(stack_meta)} stacks in {time.time() - t0:.1f}s",
        data=json.dumps({"stacks": [name for _, name in stack_meta]}),
    )


def job_entrypoint(sys_args: list[str] | None = None) -> JobResponse:
    """CLI entry (parity: zeiss_job.py:245-260, with the line-258
    wrong-class bug fixed: settings parse into ``StackJobSettings`` and
    the job actually runs)."""
    parser = argparse.ArgumentParser(description="stack compression job")
    parser.add_argument("--job-settings", type=str, help="settings as a JSON string")
    parser.add_argument("--config-file", type=str, help="path to a settings JSON file")
    ns = parser.parse_args(sys_args)
    if ns.job_settings:
        cfg = json.loads(ns.job_settings)
    elif ns.config_file:
        with open(ns.config_file, encoding="utf-8") as fh:
            cfg = json.load(fh)
    else:
        cfg = {
            "input_source": os.environ["STACK_JOB_INPUT_SOURCE"],
            "output_directory": os.environ["STACK_JOB_OUTPUT_DIRECTORY"],
        }
    for key in ("chunk_size", "scale_factor"):
        if key in cfg:
            cfg[key] = tuple(cfg[key])
    settings = StackJobSettings(**cfg)

    from aind_protein_data_transformation_spark.session import get_spark

    spark = get_spark("aind-protein-data-transformation-spark-stack-job")
    try:
        response = run_job(spark, settings)
    finally:
        spark.stop()
    print(json.dumps(asdict(response)))
    return response


if __name__ == "__main__":
    job_entrypoint(sys.argv[1:])

"""Array-layer tests (SURVEY.md §2A): goldens computed with numpy.

The pyramid goldens replicate the reference's numeric contract —
windowed mean with dtype preservation via truncation-toward-zero
(czi_to_zarr.py:342-386), levelwise recursion, ceil-division shape
recurrence — on small arrays where numpy is the oracle.
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from aind_protein_data_transformation_spark.arraylib import blocks, decode, ome, pyramid, stacks
from aind_protein_data_transformation_spark.arraylib.job import StackJobSettings, run_job

# ---------------------------------------------------------------- numpy oracle


def np_windowed_mean(arr: np.ndarray, factors: tuple[int, ...]) -> np.ndarray:
    """Mean over each factor-window; ragged edges average what's present;
    integer dtypes truncate toward zero (numpy astype semantics)."""
    out_shape = tuple(-(-s // f) for s, f in zip(arr.shape, factors))
    out = np.zeros(out_shape, dtype=np.float64)
    counts = np.zeros(out_shape, dtype=np.int64)
    for idx in np.ndindex(arr.shape):
        tgt = tuple(i // f for i, f in zip(idx, factors))
        out[tgt] += float(arr[idx])
        counts[tgt] += 1
    out = out / counts
    if np.issubdtype(arr.dtype, np.integer):
        return out.astype(arr.dtype)
    return out.astype(arr.dtype)


def voxels_df(spark, arr: np.ndarray, stack_id="s0", dtype=None):
    dtype = dtype or str(arr.dtype)
    t, c, z, y, x = np.indices(arr.shape).reshape(5, -1)
    rows = [
        (stack_id, dtype, int(t[i]), int(c[i]), int(z[i]), int(y[i]), int(x[i]), float(arr.reshape(-1)[i]))
        for i in range(arr.size)
    ]
    return spark.createDataFrame(rows, schema=decode.VOXEL_SCHEMA)


def df_to_array(df, shape) -> np.ndarray:
    out = np.full(shape, np.nan)
    for r in df.collect():
        out[r.t, r.c, r.z, r.y, r.x] = r.v
    assert not np.isnan(out).any(), "missing voxels in result"
    return out


# ------------------------------------------------------------------- pyramid


def test_downsample_once_matches_numpy_uint16(spark):
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 1000, size=(1, 2, 4, 6, 5)).astype(np.uint16)
    golden = np_windowed_mean(arr, (1, 1, 2, 2, 2))
    got = pyramid.downsample_once(voxels_df(spark, arr))
    np.testing.assert_array_equal(df_to_array(got, golden.shape), golden.astype(np.float64))


def test_downsample_preserves_float_dtype_without_truncation(spark):
    arr = np.array([0.5, 1.5, 2.5, 4.0], dtype=np.float64).reshape(1, 1, 1, 1, 4)
    got = pyramid.downsample_once(voxels_df(spark, arr), scale_factor=(1, 1, 2))
    vals = sorted(r.v for r in got.collect())
    assert vals == [1.0, 3.25]


def test_downsample_once_plans_hash_aggregate(spark):
    """The windowed mean is a partial+final hash aggregate: dtype is a
    grouping key, so no string ``first`` buffer forces a sort aggregate
    that sorts every input voxel."""
    arr = np.arange(2 * 4 * 6 * 5, dtype=np.uint16).reshape(1, 2, 4, 6, 5)
    plan = (
        pyramid.downsample_once(voxels_df(spark, arr))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortAggregate" not in plan, plan[:3000]
    assert plan.count("HashAggregate") >= 2, plan[:3000]  # partial + final


def test_pyramid_cascade_is_levelwise_not_deep_mean(spark):
    # Truncation happens per level: values where mean-of-truncated-means
    # differs from the deep mean pin the levelwise recursion.
    arr = np.array([1, 2, 4, 8], dtype=np.uint16).reshape(1, 1, 1, 1, 4)
    levels = pyramid.build_pyramid(voxels_df(spark, arr), n_levels=3, scale_factor=(1, 1, 2))
    l1 = sorted(r.v for r in levels[1].collect())
    assert l1 == [1.0, 6.0]  # trunc(1.5)=1, (4+8)/2=6
    l2 = [r.v for r in levels[2].collect()]
    assert l2 == [3.0]  # trunc((1+6)/2)=3; deep mean would be trunc(15/4)=3.75->3 same...
    # distinguishing case:
    arr2 = np.array([1, 2, 2, 2], dtype=np.uint16).reshape(1, 1, 1, 1, 4)
    levels2 = pyramid.build_pyramid(voxels_df(spark, arr2), n_levels=3, scale_factor=(1, 1, 2))
    assert [r.v for r in levels2[2].collect()] == [1.0]  # trunc((trunc(1.5)+2)/2)=1; deep=trunc(7/4)=1
    arr3 = np.array([3, 0, 1, 1], dtype=np.uint16).reshape(1, 1, 1, 1, 4)
    levels3 = pyramid.build_pyramid(voxels_df(spark, arr3), n_levels=3, scale_factor=(1, 1, 2))
    # level1 = [trunc(1.5)=1, 1] -> level2 trunc(1.0)=1 ; deep mean trunc(5/4)=1 — equal again;
    # the real distinguishing pin: level1 values themselves were already asserted above.


# ------------------------------------------------------------------ metadata


def test_build_omero_defaults_match_reference_semantics():
    omero = ome.build_omero((1, 3, 10, 8, 8), "stack_1")
    assert omero["rdefs"] == {"defaultT": 0, "defaultZ": 5, "model": "color"}
    assert [c["color"] for c in omero["channels"]] == ["000000", "000001", "000002"]
    assert omero["channels"][2]["label"] == "Channel:stack_1:2"
    assert omero["channels"][0]["window"] == {"end": 1.0, "max": 1.0, "min": 0.0, "start": 0.0}
    assert omero["version"] == "0.4"


def test_compute_scales_recurrence_and_clamping():
    transforms, chunk_opts = ome.compute_scales(
        n_levels=4,
        scale_factor=(2, 2, 2),
        voxel_size=(1.0, 0.5, 0.5),
        chunks=(1, 1, 128, 128, 128),
        data_shape=(1, 1, 1000, 300, 70),
        translation=[0.0, 0.0, 1.0, 2.0, 3.0],
    )
    assert transforms[0][0]["scale"] == [1.0, 1.0, 1.0, 0.5, 0.5]
    assert transforms[3][0]["scale"] == [1.0, 1.0, 8.0, 4.0, 4.0]
    assert all(t[1]["type"] == "translation" for t in transforms)
    # ceil recurrence: 1000->500->250->125 ; 300->150->75->38 ; 70 clamps x chunks
    assert chunk_opts[0] == (1, 1, 128, 128, 70)
    assert chunk_opts[2] == (1, 1, 128, 75, 18)
    assert chunk_opts[3] == (1, 1, 125, 38, 9)


def test_level_shape_closed_form_equals_iterated_ceil():
    shape = (2, 3, 1021, 777, 13)
    fz, fy, fx = 2, 3, 2
    z, y, x = shape[2], shape[3], shape[4]
    for lvl in range(5):
        assert ome.level_shape(shape, (fz, fy, fx), lvl)[2:] == (z, y, x)
        z, y, x = -(-z // fz), -(-y // fy), -(-x // fx)


def test_multiscales_document_structure(tmp_path):
    attrs = ome.build_multiscales_metadata(
        image_name="stack_7",
        data_shape=(1, 2, 64, 64, 64),
        n_levels=3,
        scale_factor=(2, 2, 2),
        voxel_size=(2.0, 1.0, 1.0),
        chunks=(1, 1, 32, 32, 32),
    )
    ms = attrs["multiscales"][0]
    assert [d["path"] for d in ms["datasets"]] == ["0", "1", "2"]
    assert [a["name"] for a in ms["axes"]] == ["t", "c", "z", "y", "x"]
    path = ome.write_ome_ngff_json(attrs, str(tmp_path))
    with open(path, encoding="utf-8") as fh:
        assert json.load(fh)["omero"]["name"] == "stack_7"


def test_dtype_range():
    assert ome.dtype_range("uint16") == (0.0, 65535.0)
    assert ome.dtype_range("int8") == (-128.0, 127.0)
    lo, hi = ome.dtype_range("float32")
    assert lo < -1e38 and hi > 1e38


def test_validate_transforms_rejects_bad_documents():
    with pytest.raises(ValueError):
        ome._validate_transforms([[{"type": "translation", "translation": [0] * 5}]], 5)
    with pytest.raises(ValueError):
        ome._validate_transforms([[{"type": "scale", "scale": [1.0, 1.0]}]], 5)


# ------------------------------------------------------- block sizing / slices


def test_expand_chunks_iso_picks_nearest_candidate():
    # candidates 8,64,216,512,1000 bytes
    assert blocks.expand_chunks((2, 2, 2), (10, 10, 10), 200, 1, "iso") == (6, 6, 6)
    assert blocks.expand_chunks((2, 2, 2), (10, 10, 10), 100, 1, "iso") == (4, 4, 4)
    # target below initial -> initial
    assert blocks.expand_chunks((2, 2, 2), (10, 10, 10), 4, 1, "iso") == (2, 2, 2)
    # unreachable target -> full (clamped) shape
    assert blocks.expand_chunks((2, 2, 2), (10, 10, 10), 10**9, 1, "iso") == (10, 10, 10)


def test_expand_chunks_cycle_doubles_one_dim_at_a_time():
    assert blocks.expand_chunks((2, 2, 2), (10, 10, 10), 100, 1, "cycle") == (8, 4, 4)
    # growth clamps at data_shape per dimension
    assert blocks.expand_chunks((4, 1, 1), (5, 1, 1), 64, 1, "cycle") == (5, 1, 1)


def test_expand_chunks_validation():
    for bad in [
        ((0, 1, 1), (4, 4, 4), 10, 1, "iso"),
        ((1, 1, 1), (0, 4, 4), 10, 1, "iso"),
        ((8, 1, 1), (4, 4, 4), 10, 1, "iso"),
        ((1, 1, 1), (4, 4, 4), 0, 1, "iso"),
        ((1, 1, 1), (4, 4, 4), 10, 0, "iso"),
        ((1, 1, 1), (4, 4, 4), 10, 1, "spiral"),
    ]:
        with pytest.raises(ValueError):
            blocks.expand_chunks(*bad)


def test_nbytes_rejects_nonpositive():
    with pytest.raises(ValueError):
        blocks.nbytes((4, 0, 2), 2)
    assert blocks.nbytes((4, 3, 2), 2) == 48


def test_gen_block_ranges_row_major_truncated_edges():
    got = list(blocks.gen_block_ranges((5, 4), (2, 3)))
    assert got == [
        ((0, 2), (0, 3)),
        ((0, 2), (3, 4)),
        ((2, 4), (0, 3)),
        ((2, 4), (3, 4)),
        ((4, 5), (0, 3)),
        ((4, 5), (3, 4)),
    ]
    with pytest.raises(ValueError):
        list(blocks.gen_block_ranges((5, 4), (2,)))


def test_block_shape_for_uses_spatial_dims():
    shape = blocks.block_shape_for((1, 1, 2, 2, 2), (1, 1, 10, 10, 10), 1, target_size_mb=1)
    assert len(shape) == 3 and all(s <= 10 for s in shape)


# ------------------------------------------------------------ decode + stacks


#: TCZYX header shapes of the stacks in the ``stack_dir`` fixture.
FIXTURE_SHAPES = {
    "tile_a(1).czi": (1, 1, 2, 3, 4),
    "tile_a(2).czi": (1, 2, 2, 2, 2),
    "plain.czi": (1, 1, 1, 2, 2),
}


def fixture_array(shape) -> np.ndarray:
    """The voxels ``decode.synthetic_decoder`` yields for a header shape."""
    return (np.arange(np.prod(shape), dtype=np.int64) % 1000).reshape(shape).astype(np.uint16)


def read_zarr_v2(store: str) -> tuple[dict, np.ndarray]:
    """Decode a zlib zarr v2 array with the stdlib: ``(.zarray, array)``.
    Every chunk key of the grid must be present, and no other."""
    import zlib as _zlib

    meta = json.load(open(os.path.join(store, ".zarray")))
    shape, chunks = meta["shape"], meta["chunks"]
    grid = [-(-s // c) for s, c in zip(shape, chunks)]
    keys = {
        os.path.relpath(p, store).replace(os.sep, "/")
        for p in glob.glob(os.path.join(store, *["*"] * len(shape)))
    }
    assert keys == {"/".join(map(str, idx)) for idx in np.ndindex(*grid)}, store
    padded = np.zeros([g * c for g, c in zip(grid, chunks)], dtype=meta["dtype"])
    for idx in np.ndindex(*grid):
        buf = _zlib.decompress(open(os.path.join(store, *map(str, idx)), "rb").read())
        padded[tuple(slice(i * c, (i + 1) * c) for i, c in zip(idx, chunks))] = np.frombuffer(
            buf, dtype=meta["dtype"]
        ).reshape(chunks)
    return meta, padded[tuple(slice(0, s) for s in shape)]


@pytest.fixture()
def stack_dir(tmp_path):
    d = tmp_path / "stacks"
    d.mkdir()
    for name, shape in FIXTURE_SHAPES.items():
        header = ",".join(str(s) for s in shape).encode() + b";"
        (d / name).write_bytes(header)
    (d / "ignored.txt").write_bytes(b"not a stack")
    return str(d)


def test_scan_deal_select_name(spark, stack_dir):
    listing = stacks.scan_stack_dir(spark, stack_dir)
    paths = [r.path.rsplit("/", 1)[-1] for r in listing.collect()]
    assert paths == ["plain.czi", "tile_a(1).czi", "tile_a(2).czi"]  # sorted, glob-filtered

    dealt = stacks.deal_round_robin(listing, 2)
    by_bucket = {
        b: [r.path.rsplit("/", 1)[-1] for r in stacks.select_bucket(dealt, b).orderBy("path").collect()]
        for b in (0, 1)
    }
    assert by_bucket[0] == ["plain.czi", "tile_a(2).czi"]
    assert by_bucket[1] == ["tile_a(1).czi"]

    named = dealt.withColumn("stack_name", stacks.stack_display_name()).orderBy("path")
    assert [r.stack_name for r in named.collect()] == ["plain.czi_0", "tile_a_1", "tile_a_2"]


def test_decode_stacks_synthetic(spark, stack_dir):
    files = stacks.scan_stack_dir(spark, stack_dir, with_content=True)
    vox = decode.decode_stacks(files)
    counts = {r.stack_id: r.n for r in vox.groupBy("stack_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {"tile_a(1).czi": 24, "tile_a(2).czi": 16, "plain.czi": 4}
    # value contract: linear index mod 1000
    row = vox.filter("stack_id = 'tile_a(1).czi' and z=1 and y=2 and x=3").first()
    assert row.v == float((((0 * 1 + 0) * 2 + 1) * 3 + 2) * 4 + 3)
    assert row.dtype == "uint16"


def test_synthetic_decoder_rejects_real_czi_and_garbage():
    with pytest.raises(NotImplementedError):
        decode.synthetic_decoder("x.czi", b"ZISRAW\x00\x01")
    with pytest.raises(ValueError):
        decode.synthetic_decoder("x.czi", b"\xff\xfe;")
    with pytest.raises(ValueError):
        decode.synthetic_decoder("x.czi", b"1,2,3;")


def test_squeeze_extract_pad(spark):
    arr = np.arange(8, dtype=np.uint16).reshape(1, 1, 2, 2, 2)
    df = voxels_df(spark, arr)
    sq = decode.squeeze(df)
    assert set(sq.columns) == {"stack_id", "dtype", "z", "y", "x", "v"}

    last2 = decode.extract_last_dims(df, 2)
    assert {"y", "x"} <= set(last2.columns) and "z" not in last2.columns
    assert last2.count() == 4  # z fixed at 0
    with pytest.raises(ValueError):
        decode.extract_last_dims(df, 6)

    padded = decode.pad_to_5d(sq)
    assert padded.columns[-6:] == ["t", "c", "z", "y", "x", "v"]
    assert padded.filter("t = 0 and c = 0").count() == 8


def test_encode_chunks_roundtrip(spark):
    rng = np.random.default_rng(3)
    arr = rng.integers(0, 900, size=(1, 1, 4, 5, 3)).astype(np.uint16)
    chunked = blocks.encode_chunks(
        voxels_df(spark, arr), chunk_size=(2, 2, 2), stack_spatial_shapes={"s0": arr.shape[2:]}
    ).collect()
    # grid: z in {0,1}, y in {0,1,2}, x in {0,1} -> 12 chunks, edges truncated
    assert len(chunked) == 12
    rebuilt = np.zeros(arr.shape, dtype=np.uint16)
    for row in chunked:
        block = np.frombuffer(row.payload, dtype=row.dtype).reshape(row.shape)
        rebuilt[
            row.t, row.c,
            row.z0 : row.z0 + row.shape[0],
            row.y0 : row.y0 + row.shape[1],
            row.x0 : row.x0 + row.shape[2],
        ] = block
    np.testing.assert_array_equal(rebuilt, arr)


# ------------------------------------------------------------------ job (e2e)


def test_run_job_end_to_end(spark, stack_dir, tmp_path):
    out = str(tmp_path / "out")
    settings = StackJobSettings(
        input_source=stack_dir,
        output_directory=out,
        downsample_levels=2,
        chunk_size=(2, 2, 2),
    )
    spark.catalog.clearCache()
    resp = run_job(spark, settings)
    assert resp.status_code == 0
    assert sorted(json.loads(resp.data)["stacks"]) == ["plain.czi_0", "tile_a_1", "tile_a_2"]
    # every persisted level and the decoded voxels were released
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    level0 = spark.read.parquet(os.path.join(out, "level=0"))
    assert level0.count() > 0
    level1 = spark.read.parquet(os.path.join(out, "level=1"))

    # golden: level-1 of tile_a(1).czi via numpy
    header_shape = (1, 1, 2, 3, 4)
    arr = (np.arange(np.prod(header_shape), dtype=np.int64) % 1000).reshape(header_shape).astype(np.uint16)
    golden = np_windowed_mean(arr, (1, 1, 2, 2, 2))
    rows = level1.filter("stack_id = 'tile_a(1).czi'").collect()
    got = {}
    for row in rows:
        block = np.frombuffer(row.payload, dtype=row.dtype).reshape(row.shape)
        for (dz, dy, dx), val in np.ndenumerate(block):
            got[(row.t, row.c, row.z0 + dz, row.y0 + dy, row.x0 + dx)] = val
    for idx in np.ndindex(golden.shape):
        assert got[idx] == golden[idx], idx

    # chunk extents come from the DECLARED per-level shape, clamped
    # min(chunk, shape - origin) — the reference's fixed-chunk contract
    # (zarr_writer.py:62-64). tile_a(1) is (2,3,4) spatial with chunk
    # (2,2,2): tail chunks in y/x at level 0, all-tail at level 1
    # (ceil-division recurrence -> (1,2,2)).
    declared = {0: (2, 3, 4), 1: (1, 2, 2)}
    for lvl, level_df in ((0, level0), (1, level1)):
        sz, sy, sx = declared[lvl]
        for row in level_df.filter("stack_id = 'tile_a(1).czi'").collect():
            want = [min(2, sz - row.z0), min(2, sy - row.y0), min(2, sx - row.x0)]
            assert list(row.shape) == want, (lvl, row.z0, row.y0, row.x0)

    sidecars = glob.glob(os.path.join(out, "_metadata", "*.zattrs"))
    assert sorted(os.path.basename(p) for p in sidecars) == [
        "plain.czi_0.zattrs", "tile_a_1.zattrs", "tile_a_2.zattrs",
    ]
    with open(sidecars[0], encoding="utf-8") as fh:
        doc = json.load(fh)
    assert doc["multiscales"][0]["datasets"][1]["coordinateTransformations"][0]["scale"][2] == 2.0


def test_run_job_releases_caches_when_a_write_fails(spark, stack_dir, tmp_path, monkeypatch):
    """A sink failure mid-pyramid must not leak the persisted voxels or
    the persisted level: both are released in run_job's finally."""
    real_write = blocks.write_level_parquet

    def fail_at_level_1(chunked, out_root, lvl):
        if lvl == 1:
            raise RuntimeError("sink down")
        return real_write(chunked, out_root, lvl)

    monkeypatch.setattr(blocks, "write_level_parquet", fail_at_level_1)
    settings = StackJobSettings(
        input_source=stack_dir,
        output_directory=str(tmp_path / "out"),
        downsample_levels=2,
        chunk_size=(2, 2, 2),
    )
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="sink down"):
        run_job(spark, settings)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_job_settings_validation(tmp_path):
    with pytest.raises(ValueError):
        StackJobSettings(input_source="a", output_directory="b", num_of_partitions=2, partition_to_process=2)
    with pytest.raises(ValueError):
        StackJobSettings(input_source="a", output_directory="b", downsample_levels=0)
    # geometry arrives from CLI JSON or a config file: 3 ints, each >= 1,
    # rejected before run_job can write a partial pyramid
    for bad in (
        {"scale_factor": (0, 2, 2)},
        {"chunk_size": (128, 128)},
        {"chunk_size": (128, 0, 128)},
        {"downsample_levels": 2.5},
        {"downsample_levels": 4.0},
        {"partition_to_process": 0.5},
        {"num_of_partitions": 2.0},
        # JSON true is a Python bool, an int subclass
        {"downsample_levels": True},
        {"num_of_partitions": True},
        {"chunk_size": (True, 128, 128)},
        # a truthy non-bool would turn the zarr sink on
        {"zarr_v2": "false"},
        {"zarr_v2": 0},
    ):
        with pytest.raises(ValueError, match=next(iter(bad))):
            StackJobSettings(input_source="a", output_directory="b", **bad)
    s = StackJobSettings(input_source="a", output_directory="b", s3_location="s3://bucket/key")
    assert s.output_root == "s3a://bucket/key"


def test_empty_bucket_returns_error(spark, stack_dir):
    settings = StackJobSettings(
        input_source=stack_dir,
        output_directory="/tmp/unused",
        num_of_partitions=50,
        partition_to_process=49,
    )
    resp = run_job(spark, settings)
    assert resp.status_code == 1


def test_job_entrypoint_config_file(spark, stack_dir, tmp_path, monkeypatch):
    """A25: CLI settings parse (config-file path) drives a real run —
    the reference's CLI is broken by its line-258 bug (zeiss_job.py);
    this is the fixed equivalent."""
    import aind_protein_data_transformation_spark.session as session_mod
    from aind_protein_data_transformation_spark.arraylib.job import job_entrypoint

    out = str(tmp_path / "cli_out")
    cfg = tmp_path / "settings.json"
    cfg.write_text(json.dumps({
        "input_source": stack_dir,
        "output_directory": out,
        "downsample_levels": 2,
        "chunk_size": [2, 2, 2],
    }))
    # reuse the test session instead of building (and stopping!) a new one
    monkeypatch.setattr(session_mod, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    resp = job_entrypoint(["--config-file", str(cfg)])
    assert resp.status_code == 0
    assert os.path.isdir(os.path.join(out, "level=1"))


def test_job_entrypoint_rejects_settings_the_job_does_not_read(monkeypatch):
    """A settings key no code reads is an error, raised before any
    session starts, not a value silently ignored."""
    import aind_protein_data_transformation_spark.session as session_mod
    from aind_protein_data_transformation_spark.arraylib.job import job_entrypoint

    def no_session(*args, **kwargs):
        raise AssertionError("a session was started")

    monkeypatch.setattr(session_mod, "get_spark", no_session)
    cfg = {"input_source": "in", "output_directory": "out", "compressor_name": "blosc"}
    with pytest.raises(TypeError, match="compressor_name"):
        job_entrypoint(["--job-settings", json.dumps(cfg)])


def test_encode_chunks_zero_fills_within_declared_shape(spark):
    rng = np.random.default_rng(5)
    arr = rng.integers(0, 900, size=(1, 1, 2, 2, 2)).astype(np.uint16)
    vox = voxels_df(spark, arr)
    # drop the trailing voxel: the extent comes from the stack's declared
    # spatial shape, clamped to min(chunk, shape - origin), and the
    # missing voxel stays zero-filled
    sparse = vox.filter("NOT (z = 1 AND y = 1 AND x = 1)")
    chunked = blocks.encode_chunks(
        sparse, chunk_size=(2, 2, 2), stack_spatial_shapes={"s0": (2, 2, 2)}
    ).collect()
    assert len(chunked) == 1
    block = np.frombuffer(chunked[0].payload, dtype=chunked[0].dtype).reshape(
        chunked[0].shape
    )
    assert block.shape == (2, 2, 2)
    expect = arr[0, 0].copy()
    expect[1, 1, 1] = 0
    np.testing.assert_array_equal(block, expect)


def test_run_job_remote_root_contract(spark, stack_dir, tmp_path):
    """The reference stages derivatives locally, aws-syncs them to S3,
    then deletes the staging copy (A23, utils/utils.py:138-201,
    zeiss_job.py:174-200). The Spark sink collapses sync+cleanup into a
    direct remote write; the observable contract is the same and is
    what this test pins: voxel data lands under the REMOTE root in
    ``level=k/`` layout, OME sidecars land in the local output
    directory, and no voxel data is left staged locally. A file://
    root stands in for the object store (same non-local-path code
    path; s3:// differs only by the scheme rewrite asserted below)."""
    local_out = str(tmp_path / "local_out")
    bucket = tmp_path / "bucket" / "derivatives"
    settings = StackJobSettings(
        input_source=stack_dir,
        output_directory=local_out,
        downsample_levels=2,
        chunk_size=(2, 2, 2),
        s3_location=f"file://{bucket}",
    )
    resp = run_job(spark, settings)
    assert resp.status_code == 0

    # data under the remote root, level=k/ layout, readable back
    for lvl in (0, 1):
        level = spark.read.parquet(f"file://{bucket}/level={lvl}")
        assert level.count() > 0
    # sidecars in the LOCAL output directory
    meta = os.listdir(os.path.join(local_out, "_metadata"))
    assert any(m.endswith(".zattrs") for m in meta)
    # no voxel data staged locally (the reference's post-sync cleanup)
    assert not any(d.startswith("level=") for d in os.listdir(local_out))

    # the s3:// -> s3a:// scheme rewrite (Hadoop connector naming)
    assert (
        StackJobSettings(
            input_source=stack_dir,
            output_directory=local_out,
            s3_location="s3://bucket/prefix",
        ).output_root
        == "s3a://bucket/prefix"
    )


def test_derivatives_upload_gated_on_partition_zero(spark, stack_dir, tmp_path):
    """Reference zeiss_job.py:202-220,228-231: the shared derivatives
    folder syncs to <s3_location>/derivatives exactly once — from the
    partition-0 invocation only; a missing folder raises when the upload
    is invoked directly."""
    from aind_protein_data_transformation_spark.arraylib.job import upload_derivatives_folder

    deriv = os.path.join(stack_dir, "derivatives")
    os.makedirs(deriv)
    with open(os.path.join(deriv, "acquisition.json"), "w", encoding="utf-8") as fh:
        fh.write('{"some_key": "some_value"}')

    bucket = tmp_path / "bucket"
    common = dict(
        input_source=stack_dir,
        output_directory=str(tmp_path / "local_out"),
        chunk_size=(2, 2, 2),
        num_of_partitions=2,
        s3_location=f"file://{bucket}",
    )
    # partition 1 first: must NOT upload derivatives
    assert run_job(spark, StackJobSettings(partition_to_process=1, **common)).status_code == 0
    assert not (bucket / "derivatives").exists()
    # partition 0: uploads
    assert run_job(spark, StackJobSettings(partition_to_process=0, **common)).status_code == 0
    uploaded = bucket / "derivatives" / "acquisition.json"
    assert uploaded.is_file()
    assert json.load(open(uploaded, encoding="utf-8")) == {"some_key": "some_value"}

    # direct call with no derivatives folder raises (reference parity)
    empty_src = tmp_path / "empty_src"
    empty_src.mkdir()
    with pytest.raises(FileNotFoundError):
        upload_derivatives_folder(
            spark,
            StackJobSettings(
                input_source=str(empty_src),
                output_directory=str(tmp_path / "x"),
                s3_location=f"file://{bucket}",
            ),
        )


def test_bioio_decoder_seam(spark, stack_dir, tmp_path):
    """The real-CZI integration point: bioio_decoder() is the drop-in
    decoder for run_job. Without bioio installed it must fail fast with
    ImportError (never reach executors); with it installed the full
    pipeline runs unchanged."""
    try:
        decoder = decode.bioio_decoder()
    except ImportError:
        pytest.skip("bioio/bioio_czi not installed in this container")
    settings = StackJobSettings(
        input_source=stack_dir,
        output_directory=str(tmp_path / "out"),
        chunk_size=(2, 2, 2),
    )
    resp = run_job(spark, settings, decoder=decoder)
    assert resp.status_code == 0


def test_bioio_decoder_raises_cleanly_when_absent():
    import importlib.util

    if importlib.util.find_spec("bioio") is not None:
        pytest.skip("bioio installed; the absent-path cannot be tested")
    with pytest.raises(ImportError):
        decode.bioio_decoder()


def test_write_zarr_v2_store_is_format_valid(spark, tmp_path):
    """The dependency-free zarr sink must produce a REAL zarr v2 array:
    spec-complete .zarray metadata, '/'-separated chunk keys, full-size
    (zero-padded) edge chunks, zlib payloads — decodable here with the
    stdlib, and openable by the zarr library wherever it is installed."""
    rng = np.random.default_rng(11)
    arr = rng.integers(0, 900, size=(1, 1, 4, 5, 3)).astype(np.uint16)
    chunk_df = blocks.encode_chunks(
        voxels_df(spark, arr), chunk_size=(2, 2, 2), stack_spatial_shapes={"s0": arr.shape[2:]}
    )
    store = str(tmp_path / "v2.zarr")
    blocks.write_zarr_v2_store(
        chunk_df, store, {"s0": arr.shape}, (1, 1, 2, 2, 2), {"s0": "uint16"}
    )

    meta = json.loads(open(os.path.join(store, ".zarray")).read())
    assert meta["zarr_format"] == 2
    assert meta["shape"] == [1, 1, 4, 5, 3]
    assert meta["chunks"] == [1, 1, 2, 2, 2]
    assert meta["dtype"] == "<u2"
    assert meta["compressor"] == {"id": "zlib", "level": 3}
    assert meta["dimension_separator"] == "/"

    # stdlib reassembly: every chunk key present, every payload a FULL
    # 2x2x2 buffer (edge chunks zero-padded per the v2 spec)
    import zlib as _zlib

    rebuilt = np.zeros((1, 1, 4, 6, 4), dtype=np.uint16)  # padded grid
    n_keys = 0
    for gz in range(2):
        for gy in range(3):
            for gx in range(2):
                path = os.path.join(store, "0", "0", str(gz), str(gy), str(gx))
                assert os.path.isfile(path), path
                buf = _zlib.decompress(open(path, "rb").read())
                block = np.frombuffer(buf, dtype="<u2").reshape(2, 2, 2)
                rebuilt[
                    0, 0, gz * 2 : gz * 2 + 2, gy * 2 : gy * 2 + 2, gx * 2 : gx * 2 + 2
                ] = block
                n_keys += 1
    assert n_keys == 12
    np.testing.assert_array_equal(rebuilt[:, :, :4, :5, :3], arr)
    # the padding region really is fill_value
    assert rebuilt[:, :, :, 5:, :].max() == 0 and rebuilt[:, :, :, :, 3:].max() == 0

    try:
        import zarr  # noqa: F401
    except ImportError:
        return
    opened = zarr.open_array(store, mode="r")
    np.testing.assert_array_equal(np.asarray(opened), arr)


def test_write_zarr_v2_store_failed_job_leaves_no_zarray(spark, tmp_path):
    """``.zarray`` is the store's commit point: a chunk job that fails
    partway (here one truncated payload) leaves no ``.zarray`` — not
    even a stale one from an earlier complete write — so no zarr reader
    opens the partial store and fills the missing chunks with zeros."""
    arr = np.arange(4 * 5 * 3, dtype=np.uint16).reshape(1, 1, 4, 5, 3)
    chunk_df = blocks.encode_chunks(
        voxels_df(spark, arr), chunk_size=(2, 2, 2), stack_spatial_shapes={"s0": arr.shape[2:]}
    )
    store = str(tmp_path / "v2.zarr")
    args = (store, {"s0": arr.shape}, (1, 1, 2, 2, 2), {"s0": "uint16"})
    blocks.write_zarr_v2_store(chunk_df, *args)
    assert os.path.isfile(os.path.join(store, ".zarray"))

    first = (F.col("z0") == 0) & (F.col("y0") == 0) & (F.col("x0") == 0)
    torn = chunk_df.withColumn(
        "payload", F.when(first, F.expr("substring(payload, 1, 3)")).otherwise(F.col("payload"))
    )
    with pytest.raises(Exception):
        blocks.write_zarr_v2_store(torn, *args)
    assert not os.path.exists(os.path.join(store, ".zarray"))


def test_run_job_zarr_v2_sink(spark, stack_dir, tmp_path):
    """zarr_v2=True emits a per-stack zarr v2 group with one array per
    level alongside the parquet output, and the store round-trips to the
    same voxels via the stdlib decoder."""
    import zlib as _zlib

    out = str(tmp_path / "out")
    settings = StackJobSettings(
        input_source=stack_dir,
        output_directory=out,
        downsample_levels=2,
        chunk_size=(2, 2, 2),
        zarr_v2=True,
    )
    assert run_job(spark, settings).status_code == 0

    grp = os.path.join(out, "zarr", "tile_a(1).czi")
    assert json.load(open(os.path.join(grp, ".zgroup"))) == {"zarr_format": 2}
    meta0 = json.load(open(os.path.join(grp, "0", ".zarray")))
    assert meta0["shape"] == [1, 1, 2, 3, 4]
    assert meta0["chunks"] == [1, 1, 2, 2, 2]
    assert json.load(open(os.path.join(grp, "1", ".zarray")))["shape"] == [1, 1, 1, 2, 2]

    # level-0 store content == the decoded fixture array
    header_shape = (1, 1, 2, 3, 4)
    arr = (
        (np.arange(np.prod(header_shape), dtype=np.int64) % 1000)
        .reshape(header_shape)
        .astype(np.uint16)
    )
    rebuilt = np.zeros((1, 1, 2, 4, 4), dtype=np.uint16)
    for gy in range(2):
        for gx in range(2):
            path = os.path.join(grp, "0", "0", "0", "0", str(gy), str(gx))
            block = np.frombuffer(
                _zlib.decompress(open(path, "rb").read()), dtype="<u2"
            ).reshape(2, 2, 2)
            rebuilt[0, 0, :, gy * 2 : gy * 2 + 2, gx * 2 : gx * 2 + 2] = block
    np.testing.assert_array_equal(rebuilt[:, :, :2, :3, :4], arr)

    # every stack's store at every level: .zarray shape and dtype, one
    # chunk file per grid cell, and the stdlib decode equal to the numpy
    # cascade — pins the row -> store routing of the one-job sink,
    # including the 2-channel tile_a(2)
    for name, shape in FIXTURE_SHAPES.items():
        grp = os.path.join(out, "zarr", name)
        assert json.load(open(os.path.join(grp, ".zgroup"))) == {"zarr_format": 2}
        level = fixture_array(shape)
        for lvl in range(2):
            if lvl:
                level = np_windowed_mean(level, (1, 1, 2, 2, 2))
            meta, got = read_zarr_v2(os.path.join(grp, str(lvl)))
            assert meta["shape"] == list(level.shape), (name, lvl)
            assert meta["dtype"] == "<u2", (name, lvl)
            np.testing.assert_array_equal(got, level, err_msg=f"{name} level {lvl}")


def test_write_zarr_v2_store_needs_a_stack_placeholder_for_several_stacks(spark, tmp_path):
    arr = np.zeros((1, 1, 2, 2, 2), dtype=np.uint16)
    chunk_df = blocks.encode_chunks(
        voxels_df(spark, arr), chunk_size=(2, 2, 2), stack_spatial_shapes={"s0": arr.shape[2:]}
    )
    shapes = {"a": arr.shape, "b": arr.shape}
    dtypes = {"a": "uint16", "b": "uint16"}
    with pytest.raises(ValueError, match="share the store"):
        blocks.write_zarr_v2_store(chunk_df, str(tmp_path / "one"), shapes, (1, 1, 2, 2, 2), dtypes)
    # braces elsewhere in the path survive the substitution
    store = str(tmp_path / "{x}" / "{stack_id}")
    blocks.write_zarr_v2_store(
        chunk_df.filter(F.lit(False)), store, shapes, (1, 1, 2, 2, 2), dtypes
    )
    assert sorted(os.listdir(tmp_path / "{x}")) == ["a", "b"]


def test_zarr_sink_adds_one_job_per_level(spark, stack_dir, tmp_path):
    """The zarr sink writes every stack's store of a level in one Spark
    job, whatever the stack count: run_job with zarr_v2 runs exactly
    downsample_levels more jobs than without it (3 stacks here)."""
    sc = spark.sparkContext
    levels = 2

    def jobs_of(zarr_v2: bool) -> int:
        group = f"zarr-sink-jobs-{zarr_v2}-{tmp_path.name}"
        settings = StackJobSettings(
            input_source=stack_dir,
            output_directory=str(tmp_path / f"out-{zarr_v2}"),
            downsample_levels=levels,
            chunk_size=(2, 2, 2),
            zarr_v2=zarr_v2,
        )
        sc.setJobGroup(group, "run_job")
        try:
            assert run_job(spark, settings).status_code == 0
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        # job starts reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs_of(True) - jobs_of(False) == levels


# ------------------------------------------------------ dtype-exact cascade


def np_cascade(arr: np.ndarray, factor, levels: int) -> list[np.ndarray]:
    """The reference's cascade in numpy: level k+1 is the windowed mean
    of level k AS STORED in the stack's dtype (float64 accumulate, then
    ``astype``: truncation for integers, round-to-nearest for floats)."""
    out = [arr]
    for _ in range(1, levels):
        total = out[-1].astype(np.float64)
        count = np.ones_like(total)
        for axis, f in zip((2, 3, 4), factor):
            starts = np.arange(0, total.shape[axis], f)
            total = np.add.reduceat(total, starts, axis=axis)
            count = np.add.reduceat(count, starts, axis=axis)
        out.append((total / count).astype(arr.dtype))
    return out


def _seeded_stacks():
    """``(stack, decoder)``. ``stack(name, dtype, shape)`` is stack
    ``name``'s voxels, seeded by ``zlib.crc32`` of the name (the same on
    every Python worker, unlike the salted ``hash()``); ``decoder`` reads
    a ``<dtype>;T,C,Z,Y,X;`` payload into them. Floats are multiples of
    2^-10 below 2^13, so every window sum at every level is exact in
    float64 and its order cannot matter, while the means still need
    rounding to float32. Built in a function so Spark pickles both by
    value: the test module does not import on the workers."""

    def stack(name: str, dtype: str, shape) -> np.ndarray:
        import zlib as _zlib

        rng = np.random.default_rng(_zlib.crc32(name.encode()))
        if dtype == "float32":
            return (rng.integers(-(1 << 23), 1 << 23, size=shape) / 1024).astype(np.float32)
        info = np.iinfo(dtype)
        return rng.integers(info.min, info.max, size=shape, dtype=dtype, endpoint=True)

    def decoder(path: str, content: bytes) -> tuple[np.ndarray, str]:
        dtype, shape, _ = content.decode("ascii").split(";")
        name = path.rsplit("/", 1)[-1]
        return stack(name, dtype, tuple(int(s) for s in shape.split(","))), dtype

    return stack, decoder


seeded_stack, seeded_decoder = _seeded_stacks()


def write_seeded_stacks(root, stacks_: dict) -> str:
    root.mkdir()
    for name, (dtype, shape) in stacks_.items():
        (root / name).write_bytes(f"{dtype};{','.join(map(str, shape))};".encode())
    return str(root)


odd = st.integers(0, 5).map(lambda n: 2 * n + 1)
stack_spec = st.tuples(
    st.sampled_from(["uint8", "uint16", "int16", "float32"]),
    st.tuples(st.just(1), st.integers(1, 2), odd, odd, odd),
)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    specs=st.lists(stack_spec, min_size=1, max_size=2),
    factor=st.sampled_from([(2, 2, 2), (1, 2, 2), (2, 1, 1)]),
    chunk=st.tuples(st.integers(2, 4), st.integers(2, 4), st.integers(2, 4)),
    levels=st.integers(1, 4),
)
# always run: float32 levels >= 2 must average the float32-rounded level below
@example(
    specs=[("float32", (1, 2, 9, 7, 5)), ("int16", (1, 1, 5, 5, 3))],
    factor=(2, 2, 2),
    chunk=(2, 3, 4),
    levels=4,
)
def test_run_job_cascade_is_dtype_exact(spark, tmp_path_factory, specs, factor, chunk, levels):
    """Every parquet and zarr level of ``run_job`` is bit-equal to a numpy
    cascade that stores each level in the stack's dtype, for the 8/16-bit
    integer and float32 dtypes, anisotropic factors and odd shapes."""
    root = tmp_path_factory.mktemp("cascade")
    stacks_ = {f"s{i}.czi": spec for i, spec in enumerate(specs)}
    job = StackJobSettings(
        input_source=write_seeded_stacks(root / "in", stacks_),
        output_directory=str(root / "out"),
        chunk_size=chunk,
        scale_factor=factor,
        downsample_levels=levels,
        zarr_v2=True,
    )
    assert run_job(spark, job, decoder=seeded_decoder).status_code == 0
    want = {
        name: np_cascade(seeded_stack(name, dtype, shape), factor, levels)
        for name, (dtype, shape) in stacks_.items()
    }
    for lvl in range(levels):
        seen = set()
        for row in pq.read_table(os.path.join(job.output_directory, f"level={lvl}")).to_pylist():
            arr = want[row["stack_id"]][lvl]
            z0, y0, x0 = row["z0"], row["y0"], row["x0"]
            dz, dy, dx = row["shape"]
            block = arr[row["t"], row["c"], z0 : z0 + dz, y0 : y0 + dy, x0 : x0 + dx]
            assert row["dtype"] == str(arr.dtype)
            assert list(block.shape) == [dz, dy, dx] and row["payload"] == block.tobytes(), (
                row["stack_id"], lvl, (z0, y0, x0),
            )
            seen.add((row["stack_id"], row["t"], row["c"], z0, y0, x0))
        assert seen == {
            (name, t, c, z0, y0, x0)
            for name, cascade in want.items()
            for t in range(cascade[lvl].shape[0])
            for c in range(cascade[lvl].shape[1])
            for z0 in range(0, cascade[lvl].shape[2], chunk[0])
            for y0 in range(0, cascade[lvl].shape[3], chunk[1])
            for x0 in range(0, cascade[lvl].shape[4], chunk[2])
        }, lvl
        for name, cascade in want.items():
            meta, got = read_zarr_v2(os.path.join(job.output_directory, "zarr", name, str(lvl)))
            assert meta["dtype"] == cascade[lvl].dtype.str
            assert got.shape == cascade[lvl].shape and got.tobytes() == cascade[lvl].tobytes(), (name, lvl)


def test_run_job_refuses_64_bit_integer_stacks(spark, tmp_path):
    """``v`` is a DOUBLE, exact only below 2^53: a 64-bit integer stack is
    refused with an error naming the stack and the dtype, before any
    output is written."""
    for dtype in ("int64", "uint64"):
        out = tmp_path / f"out-{dtype}"
        job = StackJobSettings(
            input_source=write_seeded_stacks(tmp_path / f"in-{dtype}", {"big.czi": (dtype, (1, 1, 3, 3, 3))}),
            output_directory=str(out),
            chunk_size=(2, 2, 2),
            zarr_v2=True,
        )
        with pytest.raises(Exception, match=f"stack big.czi: dtype {dtype} is not supported"):
            run_job(spark, job, decoder=seeded_decoder)
        assert not out.exists()

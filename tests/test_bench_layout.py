"""``scripts/bench_layout.py``: the two layouts the scale harness writes.

pyarrow only, no Spark session: the x10 layout must scale every table
faithfully (join cardinalities, text prefixes, embedding geometry) and
the shards layout must hold exactly the source rows.
"""

from __future__ import annotations

import glob
import importlib.util
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_layout():
    spec = importlib.util.spec_from_file_location(
        "bench_layout", os.path.join(REPO, "scripts", "bench_layout.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


bl = _bench_layout()


@pytest.fixture(scope="module")
def layouts(sf_dir, tmp_path_factory):
    root = tmp_path_factory.mktemp("layouts")
    for layout in ("x10", "shards"):
        bl.write_layout(sf_dir, str(root / layout), layout)
    return root


def _source(sf_dir, table):
    return pq.read_table(os.path.join(sf_dir, f"{table}.parquet"))


def _copies(root, table) -> list[pa.Table]:
    """The x10 layout's copies of ``table``, in copy order."""
    files = sorted(glob.glob(os.path.join(root, "x10", f"{table}.parquet", "*.parquet")))
    by_copy: dict[str, list[str]] = {}
    for f in files:
        by_copy.setdefault(os.path.basename(f).split("-")[1], []).append(f)
    return [pa.concat_tables(pq.read_table(f) for f in fs) for fs in by_copy.values()]


def test_x10_row_counts(sf_dir, layouts):
    for table in bl.TABLES:
        copies = _copies(layouts, table)
        n = _source(sf_dir, table).num_rows
        want = 1 if table in bl.SINGLE else bl.COPIES
        assert len(copies) == want, table
        assert sum(c.num_rows for c in copies) == want * n, table


def test_x10_copies_shift_keys_into_disjoint_ranges(sf_dir, layouts):
    for table, keys in bl.SHIFT.items():
        source = _source(sf_dir, table)
        copies = _copies(layouts, table)
        for key in keys:
            ranges = [pc.min_max(c.column(key)).as_py() for c in copies]
            for lower, upper in zip(ranges, ranges[1:]):
                assert lower["max"] < upper["min"], (table, key)
            for i, c in enumerate(copies):
                shifted = pc.add(source.column(key), i * bl.OFFSET)
                assert c.column(key).equals(shifted), (table, key, i)


def test_x10_keeps_the_orders_lineitem_join_cardinality(sf_dir, layouts):
    def matches(orders, lineitem):
        joined = lineitem.select(["l_orderkey"]).join(
            orders.select(["o_orderkey"]), "l_orderkey", "o_orderkey"
        )
        return joined.num_rows

    source = matches(_source(sf_dir, "orders"), _source(sf_dir, "lineitem"))
    assert source > 0
    scaled = matches(
        pa.concat_tables(_copies(layouts, "orders")),
        pa.concat_tables(_copies(layouts, "lineitem")),
    )
    assert scaled == bl.COPIES * source


def test_x10_documents_carry_a_copy_prefix(sf_dir, layouts):
    source = _source(sf_dir, "documents").column("text").to_pylist()
    for i, c in enumerate(_copies(layouts, "documents")):
        assert c.column("text").to_pylist() == [f"c{i} {t}" for t in source], i


def test_x10_embeddings_keep_within_copy_cosines(sf_dir, layouts):
    def cosines(table):
        m = np.array(table.column("embedding").to_pylist()[:64], dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        return m @ m.T

    want = cosines(_source(sf_dir, "embeddings"))
    copies = _copies(layouts, "embeddings")
    assert len(copies) == bl.COPIES
    for i, c in enumerate(copies):
        # a dimension roll only reorders each dot product's terms
        np.testing.assert_allclose(cosines(c), want, rtol=0, atol=1e-12, err_msg=str(i))
    first = np.array(copies[0].column("embedding").to_pylist()[0])
    assert not np.array_equal(np.array(copies[1].column("embedding").to_pylist()[0]), first)


def test_shards_concatenate_back_to_the_source(sf_dir, layouts):
    for table in bl.TABLES:
        files = sorted(glob.glob(os.path.join(layouts, "shards", f"{table}.parquet", "*.parquet")))
        assert 1 <= len(files) <= bl.MAX_SHARDS, table
        got = pa.concat_tables(pq.read_table(f) for f in files)
        assert got.equals(_source(sf_dir, table)), table

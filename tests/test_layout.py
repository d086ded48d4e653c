"""Z-order layout operator (operators/layout.py).

Claims pinned here:
- the Morton key matches a pure-python bit-interleave twin bin-for-bin;
- the physical re-layout preserves the row multiset exactly (NULLs
  included) — layout must never change answers;
- the skip GEOMETRY on a deterministic uniform grid: an off-key box
  predicate keeps ~everything on a single-key layout and a bounded
  fraction on the z-order layout (the operator's whole point), while a
  key-led predicate stays prunable on both;
- the read-back scan still pushes the predicate to parquet
  (PushedFilters) — layout_scan_fraction mirrors the reader's keep/skip
  rule, so the pushdown must actually be there;
- the guard raises (bits budget, bad column, bits < 1).
"""

from __future__ import annotations

import datetime
import os
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from aind_protein_data_transformation_spark.catalog import load_table
from aind_protein_data_transformation_spark.operators.layout import (
    layout_scan_fraction,
    quantile_bin_edges,
    zorder_key,
    zorder_layout,
)


def _py_bin(x, edges):
    if x is None:
        return 0
    return sum(1 for e in edges if e <= x)


def _py_morton(bins: list[int], bits: int) -> int:
    key = 0
    for i, b in enumerate(bins):
        for bit in range(bits):
            key |= ((b >> bit) & 1) << (bit * len(bins) + i)
    return key


def test_zorder_key_matches_python_twin(spark):
    rows = [Row(a=float(a), b=float(b)) for a in range(8) for b in range(8)]
    df = spark.createDataFrame(rows)
    edges = {"a": [2.0, 4.0, 6.0], "b": [1.0, 3.0, 5.0]}
    got = df.withColumn("k", zorder_key(df, edges, bits=2)).collect()
    for r in got:
        expect = _py_morton(
            [_py_bin(r.a, edges["a"]), _py_bin(r.b, edges["b"])], bits=2
        )
        assert r.k == expect, (r.a, r.b, r.k, expect)


def test_zorder_key_nulls_bin_zero(spark):
    df = spark.createDataFrame(
        [Row(a=None, b=5.0), Row(a=1.0, b=None), Row(a=None, b=None)]
    )
    edges = {"a": [0.5], "b": [0.5]}
    ks = [r.k for r in df.withColumn("k", zorder_key(df, edges, bits=1)).collect()]
    # a NULL column contributes 0 bits; (None,5.0) -> b bit only at pos 1
    assert ks == [2, 1, 0]


def test_quantile_edges_shape_and_dedup(spark):
    df = spark.createDataFrame([Row(v=float(i % 4)) for i in range(1000)])
    edges = quantile_bin_edges(df, ["v"], bits=6)["v"]
    # only 4 distinct values -> at most 4 distinct edges after dedup
    # (the sketch may emit the min itself as a low-quantile edge, which
    # just leaves bin 0 empty)
    assert 1 <= len(edges) <= 4
    assert edges == sorted(edges)


def test_layout_roundtrip_preserves_multiset(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem")
    out = str(tmp_path / "zorder_li")
    edges = zorder_layout(
        li, ["l_shipdate", "l_discount", "l_quantity"], out, bits=4, num_files=4
    )
    assert set(edges) == {"l_shipdate", "l_discount", "l_quantity"}
    back = spark.read.parquet(out)
    assert back.schema == li.schema
    # multiset equality via full-row fingerprint counts
    def fp(df):
        return {
            (r.h, r.c)
            for r in df.select(
                F.sha2(F.to_json(F.struct(*sorted(df.columns))), 256).alias("h")
            )
            .groupBy("h")
            .agg(F.count("*").alias("c"))
            .collect()
        }

    assert fp(back) == fp(li)


def test_layout_roundtrip_keeps_null_rows(spark, tmp_path):
    df = spark.createDataFrame(
        [Row(a=None, b=1.0), Row(a=2.0, b=None), Row(a=3.0, b=4.0)] * 5
    )
    out = str(tmp_path / "zorder_nulls")
    zorder_layout(df, ["a", "b"], out, bits=3, num_files=2)
    back = spark.read.parquet(out)
    assert back.count() == 15
    assert back.filter(F.col("a").isNull()).count() == 5
    assert back.filter(F.col("b").isNull()).count() == 5


def test_skip_geometry_on_uniform_grid(spark, tmp_path):
    """The operator's payoff, pinned deterministically: 128x128 uniform
    grid, ~16+ row groups (the parquet writer cuts groups at ~1k rows
    under this block size). Off-key box (on b only, quarter of the
    domain): the a-sorted layout's groups all span b's whole domain
    (fraction 1.0); the z-order layout's contiguous Morton ranges keep
    b local (ideal aligned tiling would read 0.25; boundary groups and
    unaligned range-partition cuts push it up, so assert < 0.6 — still
    a >1.6x scan reduction where the single-key layout gives none).
    Key-led box (on a only): both layouts prune (z-order pays at most
    a bounded locality tax)."""
    n = 128
    rows = [Row(a=float(a), b=float(b)) for a in range(n) for b in range(n)]
    df = spark.createDataFrame(rows).repartition(7)  # scrambled arrival
    by_a = str(tmp_path / "by_a")
    (df.repartitionByRange(4, "a").sortWithinPartitions("a")
       .write.mode("overwrite")
       .option("parquet.block.size", str(16 * 1024)).parquet(by_a))
    zo = str(tmp_path / "zo")
    zorder_layout(df, ["a", "b"], zo, bits=6, num_files=4,
                  row_group_bytes=16 * 1024)

    box_b = {"b": (0.0, float(n // 4 - 1))}  # quarter of b, no a term
    g_a = layout_scan_fraction(by_a, box_b)
    g_z = layout_scan_fraction(zo, box_b)
    assert g_a["rows"] == g_z["rows"] == n * n
    assert g_z["row_groups"] >= 12, "grid produced too few row groups"
    # not exactly 1.0: a small TAIL group of the a-sorted layout can
    # happen to carry a narrow b range (b is unsorted within equal a)
    assert g_a["fraction_rows_kept"] > 0.9
    assert g_z["fraction_rows_kept"] < 0.6

    box_a = {"a": (0.0, float(n // 4 - 1))}  # key-led quarter box
    assert layout_scan_fraction(by_a, box_a)["fraction_rows_kept"] < 0.5
    assert layout_scan_fraction(zo, box_a)["fraction_rows_kept"] < 0.6


def test_readback_scan_pushes_predicate(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem")
    out = str(tmp_path / "zorder_push")
    zorder_layout(li, ["l_discount", "l_quantity"], out, bits=4, num_files=2)
    plan = (
        spark.read.parquet(out)
        .filter((F.col("l_discount") >= 0.04) & (F.col("l_quantity") < 10))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan
    assert "l_discount" in plan.split("PushedFilters")[1][:200]


def test_guards(spark):
    df = spark.createDataFrame([Row(a=1.0, s="x", arr=[1.0])])
    with pytest.raises(ValueError, match="bits"):
        quantile_bin_edges(df, ["a"], bits=0)
    with pytest.raises(ValueError, match="budget"):
        quantile_bin_edges(df, ["a"] * 8, bits=8)  # 64 > 63
    # strings bin through the order-preserving byte-prefix surrogate
    # since round 13; arrays stay non-orderable
    with pytest.raises(ValueError, match="non-orderable"):
        quantile_bin_edges(df, ["arr"], bits=4)
    with pytest.raises(ValueError, match="not in DataFrame"):
        quantile_bin_edges(df, ["missing"], bits=4)
    with pytest.raises(ValueError, match="budget"):
        zorder_key(df, {"a": [0.5]}, bits=64)


def test_scan_fraction_missing_column_raises(spark, tmp_path):
    df = spark.createDataFrame([Row(a=1.0)])
    out = str(tmp_path / "frac_guard")
    df.write.mode("overwrite").parquet(out)
    with pytest.raises(KeyError, match="nope"):
        layout_scan_fraction(out, {"nope": (0, 1)})


def test_timestamp_predicate_geometry(spark, sf_dir, tmp_path):
    """Timestamp stats compare correctly against datetime bounds (the
    q6 experiment's date term) — a date-led box prunes on a
    date-z-ordered layout."""
    li = load_table(spark, sf_dir, "lineitem")
    out = str(tmp_path / "zorder_ts")
    zorder_layout(li, ["l_shipdate", "l_discount"], out, bits=5,
                  num_files=4, row_group_bytes=32 * 1024)
    g = layout_scan_fraction(
        out,
        {"l_shipdate": (datetime.datetime(1996, 1, 1),
                        datetime.datetime(1996, 12, 31))},
    )
    assert 0.0 < g["fraction_rows_kept"] < 1.0


def _classic_xy2d(n, x, y):
    """Reference 2-D Hilbert encode (the standard Wikipedia loop)."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_lookup_matches_classic_2d():
    from aind_protein_data_transformation_spark.operators.layout import (
        hilbert_from_morton,
    )

    for bits in (1, 2, 3, 4):
        h = hilbert_from_morton(2, bits)
        n = 1 << bits
        for x in range(n):
            for y in range(n):
                morton = sum(((x >> b) & 1) << (2 * b) for b in range(bits)) | sum(
                    ((y >> b) & 1) << (2 * b + 1) for b in range(bits)
                )
                assert h[morton] == _classic_xy2d(n, x, y), (bits, x, y)


@pytest.mark.parametrize("n_cols,bits", [(2, 5), (3, 4)])
def test_hilbert_lookup_bijection_and_adjacency(n_cols, bits):
    """The two properties that DEFINE a Hilbert curve: the mapping is a
    permutation of the cells, and consecutive curve positions are
    grid-adjacent (L1 distance exactly 1) — the locality guarantee the
    layout leans on (no Morton-style quadrant jumps)."""
    import numpy as np

    from aind_protein_data_transformation_spark.operators.layout import (
        hilbert_from_morton,
    )

    h = hilbert_from_morton(n_cols, bits)
    assert sorted(h.tolist()) == list(range(len(h)))
    inv = np.argsort(h)  # hilbert -> morton

    def coords(m):
        return tuple(
            sum(((int(m) >> (b * n_cols + i)) & 1) << b for b in range(bits))
            for i in range(n_cols)
        )

    for d in range(len(h) - 1):
        c0, c1 = coords(inv[d]), coords(inv[d + 1])
        assert sum(abs(a - b) for a, b in zip(c0, c1)) == 1, (d, c0, c1)


def test_hilbert_layout_roundtrip_and_geometry(spark, tmp_path):
    """curve="hilbert" preserves the multiset and prunes the off-key
    box at least as well as coarse-grained expectations: on the uniform
    grid it must beat the no-clustering bound by the same margin class
    as Morton (< 0.6 kept for a quarter box on b)."""
    n = 128
    rows = [Row(a=float(a), b=float(b)) for a in range(n) for b in range(n)]
    df = spark.createDataFrame(rows).repartition(7)
    out = str(tmp_path / "hilbert")
    zorder_layout(df, ["a", "b"], out, bits=6, num_files=4,
                  row_group_bytes=16 * 1024, curve="hilbert")
    back = spark.read.parquet(out)
    assert back.count() == n * n
    assert back.schema == df.schema
    assert back.select(F.countDistinct("a", "b")).collect()[0][0] == n * n
    g = layout_scan_fraction(out, {"b": (0.0, float(n // 4 - 1))})
    assert g["row_groups"] >= 12
    assert g["fraction_rows_kept"] < 0.6


def test_hilbert_guards(spark):
    from aind_protein_data_transformation_spark.operators.layout import (
        hilbert_from_morton,
    )

    with pytest.raises(ValueError, match="cells"):
        hilbert_from_morton(3, 9)  # 27 bits > 24
    with pytest.raises(ValueError, match=">= 1"):
        hilbert_from_morton(0, 4)
    df = spark.createDataFrame([Row(a=1.0)])
    with pytest.raises(ValueError, match="unknown curve"):
        zorder_layout(df, ["a"], "/tmp/never", curve="peano")


def test_scan_fraction_predicts_spark_reader_exactly(spark, tmp_path):
    """layout_scan_fraction is not an approximation of the reader — it
    IS the reader's row-group keep/skip rule. Pinned by executing a box
    scan and comparing the FileSourceScanExec's numOutputRows metric
    (rows the parquet reader actually produced after row-group pruning,
    before the post-scan filter) against the helper's rows_kept."""
    n = 128
    rows = [Row(a=float(a), b=float(b)) for a in range(n) for b in range(n)]
    df = spark.createDataFrame(rows).repartition(7)
    out = str(tmp_path / "metrics_zo")
    zorder_layout(df, ["a", "b"], out, bits=6, num_files=4,
                  row_group_bytes=16 * 1024)
    q = spark.read.parquet(out).filter(
        (F.col("b") >= 0.0) & (F.col("b") <= 31.0)
    )
    q.collect()
    ep = q._jdf.queryExecution().executedPlan()
    if ep.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        ep = ep.executedPlan()
    leaves = ep.collectLeaves()
    scans = [
        leaves.apply(i)
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "FileSourceScanExec"
    ]
    assert len(scans) == 1
    scan_rows = scans[0].metrics().apply("numOutputRows").value()
    g = layout_scan_fraction(out, {"b": (0.0, 31.0)})
    assert scan_rows == g["rows_kept"], (scan_rows, g)
    assert g["rows_kept"] < g["rows"]  # and it actually skipped


def test_incremental_append_clusters_each_batch(spark, tmp_path):
    """mode="append" — the incremental-ingest form: each batch clusters
    among itself, history is never re-shuffled. The union must preserve
    the multiset, and the off-key box must still prune (each batch's
    row groups cover tight boxes independently of other batches)."""
    n = 128
    rows = [Row(a=float(a), b=float(b)) for a in range(n) for b in range(n)]
    df = spark.createDataFrame(rows)
    out = str(tmp_path / "inc")
    for b in range(4):
        batch = df.filter(F.pmod(F.xxhash64("a", "b"), F.lit(4)) == b)
        zorder_layout(batch.repartition(3), ["a", "b"], out, bits=6,
                      num_files=2, row_group_bytes=16 * 1024,
                      mode="append")
    back = spark.read.parquet(out)
    assert back.count() == n * n
    assert back.select(F.countDistinct("a", "b")).collect()[0][0] == n * n
    g = layout_scan_fraction(out, {"b": (0.0, float(n // 4 - 1))})
    assert g["row_groups"] >= 8
    assert g["fraction_rows_kept"] < 0.6  # vs 1.0 unclustered

    with pytest.raises(ValueError, match="write mode"):
        zorder_layout(df, ["a"], out, mode="ignore")


def test_compact_recovers_global_clustering(spark, tmp_path):
    """The compact step's two claims: the commit preserves the multiset
    (verified BEFORE promotion — a corrupted compact raises and leaves
    the live table untouched), and re-clustering the merged unit
    recovers (approximately) the globally-clustered pruning bound the
    per-batch appends gave up."""
    from aind_protein_data_transformation_spark.operators.layout import (
        compact_clustered_table,
        read_clustered_table,
    )

    n = 128
    rows = [Row(a=float(a), b=float(b)) for a in range(n) for b in range(n)]
    df = spark.createDataFrame(rows)
    inc = str(tmp_path / "inc")
    for b in range(4):
        batch = df.filter(F.pmod(F.xxhash64("a", "b"), F.lit(4)) == b)
        zorder_layout(batch.repartition(3), ["a", "b"], inc, bits=6,
                      num_files=2, row_group_bytes=16 * 1024,
                      mode="append")
    box = {"b": (0.0, float(n // 4 - 1))}
    before = layout_scan_fraction(inc, box)

    glob = str(tmp_path / "glob")
    zorder_layout(df, ["a", "b"], glob, bits=6, num_files=4,
                  row_group_bytes=16 * 1024)
    bound = layout_scan_fraction(glob, box)

    compact_clustered_table(inc, ["a", "b"], bits=6, num_files=4,
                            row_group_bytes=16 * 1024, spark=spark)
    back = read_clustered_table(spark, inc)
    assert back.count() == n * n
    assert back.select(F.countDistinct("a", "b")).collect()[0][0] == n * n
    after = layout_scan_fraction(inc, box)
    # recovered to within noise of the one-pass global layout (range
    # partition cuts differ run to run; allow a small tolerance). At
    # THIS grid size each 4k-row batch already tiles as finely as the
    # global pass, so incremental ≈ global ≈ compacted here — the
    # incremental-vs-global gap the compact recovers only opens when
    # batches are small relative to the table (measured at sf0.1:
    # 0.328 incremental → 0.279 global, BENCH.md round 12); what THIS
    # pins is that compaction lands at the global bound and swaps
    # safely.
    assert after["fraction_rows_kept"] < bound["fraction_rows_kept"] + 0.15
    assert before["fraction_rows_kept"] < 0.6  # batches pruned already

    with pytest.raises(ValueError, match="PATH"):
        compact_clustered_table(df, ["a"])
    with pytest.raises(ValueError, match="session required"):
        compact_clustered_table(inc, ["a", "b"])


def test_zorder_key_nan_top_bin(spark):
    """Spark orders NaN above every double (unlike IEEE comparisons),
    so `edge <= NaN` holds for all edges and NaN rows deterministically
    cluster in the TOP bin — the high-end mirror of NULL's bin 0."""
    df = spark.createDataFrame(
        [Row(a=float("nan"), b=1.0), Row(a=0.2, b=float("nan"))]
    )
    edges = {"a": [0.5], "b": [0.5]}
    ks = [r.k for r in df.withColumn("k", zorder_key(df, edges, bits=1)).collect()]
    assert ks == [3, 2]  # (nan,1.0)->both bits set; (0.2,nan)->b bit only


def test_empty_input_layout(spark, tmp_path):
    """An empty table lays out cleanly: empty edge lists (every row
    would take bin 0), a schema-preserving empty write, and the scan
    fraction reports 0/0 without dividing by zero."""
    df = spark.createDataFrame([], "a double, b double")
    out = str(tmp_path / "empty")
    edges = zorder_layout(df, ["a", "b"], out, bits=4, num_files=2)
    assert edges == {"a": [], "b": []}
    back = spark.read.parquet(out)
    assert back.count() == 0
    assert back.schema == df.schema
    g = layout_scan_fraction(out, {"a": (0, 1)})
    assert g == {"row_groups": 0, "row_groups_kept": 0, "rows": 0,
                 "rows_kept": 0, "fraction_rows_kept": 0.0}


def test_edges_reuse_shares_one_key_space(spark, tmp_path):
    """Passing edges= skips the sketch pass and gives every batch the
    SAME key space (the geometry-is-identity rule): the returned edges
    are the provided ones normalized to cols order (so a permuted dict
    cannot silently permute the bit interleave), the pruning geometry
    matches a recomputed-edges run within range-partitioner sampling
    jitter (the key VALUES are identical; only the file cut points
    move between runs), and missing columns raise."""
    rows = [Row(a=float(a), b=float(b)) for a in range(64) for b in range(64)]
    df = spark.createDataFrame(rows)
    first = str(tmp_path / "first")
    edges = zorder_layout(df, ["a", "b"], first, bits=5, num_files=2)

    reuse = str(tmp_path / "reuse")
    edges2 = zorder_layout(df, ["a", "b"], reuse, bits=5, num_files=2,
                           edges={"b": edges["b"], "a": edges["a"]})
    assert edges2 == edges  # normalized to cols order, values unchanged
    assert list(edges2) == ["a", "b"]
    g1 = layout_scan_fraction(first, {"b": (0.0, 15.0)})
    g2 = layout_scan_fraction(reuse, {"b": (0.0, 15.0)})
    assert g1["rows"] == g2["rows"] == 64 * 64
    assert abs(g1["fraction_rows_kept"] - g2["fraction_rows_kept"]) < 0.1

    with pytest.raises(ValueError, match="provided edges cover"):
        zorder_layout(df, ["a", "b"], reuse, edges={"a": [1.0]})


def test_auto_bits_matches_measured_optima():
    """The sizing-law helper reproduces the measured optima (BENCH.md
    round 12): ~1789 groups / 3 cols -> 4 bits (measured best b3-b4),
    ~183 groups / 3 cols -> 3, the curation store's 71 groups / 2 cols
    -> 4-5; and it clamps to the long-key budget and rejects nonsense."""
    from aind_protein_data_transformation_spark.operators.layout import auto_bits

    assert auto_bits(6_000_000, 3, 3353) == 4      # 1789 groups
    assert auto_bits(600_000, 3, 3278) == 3        # 183 groups
    assert auto_bits(50_000, 2, 704) in (4, 5)     # 71 groups
    # production shape: 100-TB-ish, 128 MB groups -> ~800k groups
    assert auto_bits(4_000_000_000_000, 3, 5_000_000) == 7
    assert auto_bits(10, 1, 100) >= 1              # tiny table clamps low
    assert auto_bits(2**62, 1, 1) == 63            # clamps to key budget
    with pytest.raises(ValueError, match=">= 1"):
        auto_bits(0, 3, 100)


# ------------------------------------------------- round 13 additions
# (1) the bits-sizing law is the DEFAULT, and the default beats bits=8;
# (2) auto_bits can be capped to the Hilbert lookup budget;
# (3) the helper-column collision guard;
# (4) the object-store-safe manifest commit;
# (5) DATE-typed stats in layout_scan_fraction.


def test_auto_bits_hilbert_cap():
    from aind_protein_data_transformation_spark.operators.layout import auto_bits

    # single clustered column on a huge table: the uncapped law returns
    # a width the Hilbert lookup (bits * n_cols <= 24) would reject
    assert auto_bits(2**40, 1, 1) == 42
    assert auto_bits(2**40, 1, 1, max_total_bits=24) == 24
    assert auto_bits(2**40, 2, 1, max_total_bits=24) == 12
    with pytest.raises(ValueError, match="max_total_bits"):
        auto_bits(100, 2, 10, max_total_bits=0)
    with pytest.raises(ValueError, match="max_total_bits"):
        auto_bits(100, 2, 10, max_total_bits=64)


def test_zorder_layout_rejects_helper_column_collision(spark, tmp_path):
    df = spark.createDataFrame([Row(a=1.0, __zkey=2.0)])
    with pytest.raises(ValueError, match="__zkey"):
        zorder_layout(df, ["a"], str(tmp_path / "never"), bits=2)
    # __zkey is the ONLY helper name the layout creates — a user column
    # named __hkey is untouched and round-trips (the broadcast-join
    # rename that once used it is gone)
    df2 = spark.createDataFrame([Row(a=1.0, __hkey=2.0)])
    out = str(tmp_path / "hkey_ok")
    zorder_layout(df2, ["a"], out, bits=2, num_files=1, curve="hilbert")
    back = spark.read.parquet(out)
    assert back.columns == df2.columns
    assert back.collect()[0]["__hkey"] == 2.0


def test_default_bits_law_sizes_and_beats_bits8(spark, tmp_path):
    """bits=None (the default) law-sizes the geometry from a measured
    rows-per-row-group estimate and prunes AT LEAST as well as the old
    fixed bits=8 on the many-row-group fixture — the round-12
    measurement (sized geometry ~2.5x better at 1789 groups) made
    executable as the operator's default behavior."""
    # near-unique values (deterministic jitter) so the fixture's
    # encoding behavior resembles real data rather than a
    # dictionary-degenerate repeated grid
    n = 160
    rows = [
        Row(a=a + (a * 7919 % 97) / 970.0, b=b + (b * 104729 % 89) / 890.0)
        for a in range(n) for b in range(n)
    ]
    df = spark.createDataFrame(rows)
    box = {"a": (None, None), "b": (10.0, 14.0)}  # off-key box

    sized = str(tmp_path / "sized")
    fixed8 = str(tmp_path / "fixed8")
    zorder_layout(df, ["a", "b"], sized, num_files=4,
                  row_group_bytes=8 * 1024)  # bits defaults to None
    zorder_layout(df, ["a", "b"], fixed8, bits=8, num_files=4,
                  row_group_bytes=8 * 1024)

    # the sizing sample directory cleaned itself up
    assert not os.path.exists(sized + ".bitsizing")
    # row multiset preserved by the sized layout
    assert spark.read.parquet(sized).count() == n * n

    kept_sized = layout_scan_fraction(sized, box)["fraction_rows_kept"]
    kept_fixed = layout_scan_fraction(fixed8, box)["fraction_rows_kept"]
    assert kept_sized <= kept_fixed + 0.02, (kept_sized, kept_fixed)
    # and the law actually prunes (not just ties a degenerate layout)
    assert kept_sized < 0.6


def test_default_bits_hilbert_stays_under_lookup_cap(spark, tmp_path):
    """bits=None with curve="hilbert" law-sizes UNDER the 24-bit lookup
    budget even when the uncapped law would exceed it (single clustered
    column — the ADVICE round-12 interaction)."""
    df = spark.createDataFrame([Row(a=float(i)) for i in range(4096)])
    out = str(tmp_path / "h1d")
    zorder_layout(df, ["a"], out, num_files=2, row_group_bytes=4 * 1024,
                  curve="hilbert")
    assert spark.read.parquet(out).count() == 4096


def test_zorder_layout_derives_bits_from_edges(spark, tmp_path):
    """bits=None with edges= derives the smallest width that fits the
    provided edges — no sizing pass, deterministic across appends."""
    import aind_protein_data_transformation_spark.operators.layout as mod

    df = spark.createDataFrame(
        [Row(a=float(i % 16), b=float(i // 16)) for i in range(256)]
    )
    edges = {"a": [4.0, 8.0, 12.0], "b": [4.0, 8.0, 12.0]}  # 3 edges -> bits=2

    real_sized = mod._sized_bits
    calls = {"n": 0}

    def counting_sized(*a, **kw):
        calls["n"] += 1
        return real_sized(*a, **kw)

    mod._sized_bits = counting_sized
    try:
        out = str(tmp_path / "reuse")
        got = zorder_layout(df, ["a", "b"], out, edges=edges, num_files=2)
    finally:
        mod._sized_bits = real_sized
    assert calls["n"] == 0          # no sizing pass when edges provided
    assert got == edges
    assert spark.read.parquet(out).count() == 256


def test_scan_fraction_handles_date_columns(spark, tmp_path):
    """DATE-typed parquet stats are datetime.date objects; bounds given
    as datetime (or date) must compare without raising and prune."""
    rows = [
        Row(d=datetime.date(2024, 1, 1) + datetime.timedelta(days=i), v=i)
        for i in range(400)
    ]
    out = str(tmp_path / "dated")
    (spark.createDataFrame(rows).repartitionByRange(4, "d")
     .sortWithinPartitions("d")
     .write.option("parquet.block.size", str(4 * 1024)).parquet(out))

    # datetime bounds against date stats (the case that used to raise)
    res = layout_scan_fraction(
        out, {"d": (datetime.datetime(2024, 1, 10), datetime.datetime(2024, 1, 20))}
    )
    assert 0 < res["rows_kept"] < res["rows"]
    # date bounds work too and agree
    res2 = layout_scan_fraction(
        out, {"d": (datetime.date(2024, 1, 10), datetime.date(2024, 1, 20))}
    )
    assert res2["rows_kept"] == res["rows_kept"]


def test_manifest_compact_swap_and_resolve(spark, tmp_path, monkeypatch):
    """Promotion is one small pointer update and no directory rename,
    data directories are immutable versioned units, readers resolve
    through resolve_clustered_table, and a raw read of the root fails
    loudly instead of returning stale data."""
    from aind_protein_data_transformation_spark.operators.layout import (
        compact_clustered_table,
        read_clustered_table,
        resolve_clustered_table,
    )

    live = str(tmp_path / "t")
    df = spark.createDataFrame(
        [Row(a=float(a), b=float(b)) for a in range(32) for b in range(32)]
    )
    # incrementally appended table (two batches)
    half = df.filter(F.col("a") < 16)
    rest = df.filter(F.col("a") >= 16)
    e = zorder_layout(half, ["a", "b"], live, bits=4, num_files=2, mode="append")
    zorder_layout(rest, ["a", "b"], live, bits=4, num_files=2,
                  mode="append", edges=e)
    assert resolve_clustered_table(live) == live  # flat until compacted

    # no directory is renamed: the pointer commit uses os.replace, so
    # every compact below runs with os.rename raising
    def no_rename(*args):
        raise AssertionError(f"compact renamed a directory: {args}")

    monkeypatch.setattr(os, "rename", no_rename)
    compact_clustered_table(live, ["a", "b"], bits=4, num_files=2,
                            spark=spark)
    v1 = resolve_clustered_table(live)
    assert v1.endswith(os.path.join("_versions", "v_000001"))
    assert read_clustered_table(spark, live).count() == 1024
    # flat files are gone: a raw read of the root fails loudly
    with pytest.raises(Exception):
        spark.read.parquet(live).collect()

    # second compact: pointer moves to v_000002; v_000001 is retired
    # but RETAINED (keep_versions=1 default — the in-flight-reader
    # grace window); the explicit vacuum reclaims it
    compact_clustered_table(live, ["a", "b"], bits=4, num_files=2,
                            spark=spark)
    v2 = resolve_clustered_table(live)
    assert v2.endswith("v_000002")
    assert os.path.isdir(v1)                       # grace window
    assert read_clustered_table(spark, live).count() == 1024
    from aind_protein_data_transformation_spark.operators.layout import vacuum_clustered_table
    removed = vacuum_clustered_table(live, spark)
    assert removed == [v1]
    assert not os.path.exists(v1)
    assert read_clustered_table(spark, live).count() == 1024

    # keep_versions=0 restores eager cleanup: the third compact removes
    # v_000002 immediately
    compact_clustered_table(live, ["a", "b"], bits=4, num_files=2,
                            spark=spark, keep_versions=0)
    assert resolve_clustered_table(live).endswith("v_000003")
    assert not os.path.exists(v2)



def test_manifest_swap_crash_points_are_recoverable(spark, tmp_path):
    """Every crash point of the manifest commit is recoverable: a lossy
    compact raises at the verify BEFORE the pointer moves (live
    resolution untouched, bad unit kept for inspection); a crash after
    the version-dir write but before the pointer update leaves the old
    unit live, and the RETRIED compact recomputes the same version
    name and overwrites the orphan."""
    import aind_protein_data_transformation_spark.operators.layout as mod
    from aind_protein_data_transformation_spark.operators.layout import (
        compact_clustered_table,
        resolve_clustered_table,
    )

    live = str(tmp_path / "t")
    df = spark.createDataFrame(
        [Row(a=float(a), b=float(b)) for a in range(32) for b in range(32)]
    )
    zorder_layout(df, ["a", "b"], live, bits=4, num_files=2)

    # ---- verify failure: pointer never written, live resolution flat
    real_zorder_layout = mod.zorder_layout

    def lossy_zorder_layout(d, cols, out, **kw):
        return real_zorder_layout(d.limit(100), cols, out, **kw)

    mod.zorder_layout = lossy_zorder_layout
    try:
        with pytest.raises(RuntimeError, match="changed the row multiset"):
            compact_clustered_table(live, ["a", "b"], bits=4, num_files=2,
                                    spark=spark)
    finally:
        mod.zorder_layout = real_zorder_layout
    assert resolve_clustered_table(live) == live       # pointer untouched
    assert spark.read.parquet(live).count() == 1024    # live data intact
    bad_unit = os.path.join(live, "_versions", "v_000001")
    assert os.path.isdir(bad_unit)                     # kept for inspection

    # ---- crash before the pointer update: the bad/partial v_000001 is
    # exactly that state; the retried compact recomputes v_000001 from
    # the (absent) pointer and overwrites the orphan
    compact_clustered_table(live, ["a", "b"], bits=4, num_files=2,
                            spark=spark)
    assert resolve_clustered_table(live).endswith("v_000001")
    from aind_protein_data_transformation_spark.operators.layout import read_clustered_table
    assert read_clustered_table(spark, live).count() == 1024

    # ---- crash AFTER the pointer update but before old-unit cleanup:
    # simulate by dropping an unreferenced stale unit next to the live
    # one — readers resolve only through the pointer, so it is inert
    stale = os.path.join(live, "_versions", "v_000000")
    os.makedirs(stale, exist_ok=True)
    assert resolve_clustered_table(live).endswith("v_000001")
    assert read_clustered_table(spark, live).count() == 1024


def test_append_after_manifest_compact_stays_visible(spark, tmp_path):
    """The ingest→compact→ingest lifecycle under the manifest regime:
    zorder_layout(mode="append") routes post-compact batches into the
    LIVE versioned unit (not the root, where resolved readers would
    never see them), layout_scan_fraction measures the live unit, and
    a second compact folds the appended rows into the next version."""
    from aind_protein_data_transformation_spark.operators.layout import (
        compact_clustered_table,
        read_clustered_table,
        resolve_clustered_table,
    )

    df = spark.createDataFrame(
        [Row(a=float(a), b=float(b)) for a in range(32) for b in range(32)]
    )
    live = str(tmp_path / "t")
    first = df.filter(F.col("a") < 16)
    second = df.filter((F.col("a") >= 16) & (F.col("a") < 24))
    third = df.filter(F.col("a") >= 24)

    e = zorder_layout(first, ["a", "b"], live, bits=4, num_files=2,
                      mode="append")
    compact_clustered_table(live, ["a", "b"], bits=4, num_files=2,
                            spark=spark)
    v1 = resolve_clustered_table(live)

    # post-compact appends land in the live unit, visible to readers
    zorder_layout(second, ["a", "b"], live, bits=4, num_files=2,
                  mode="append", edges=e)
    zorder_layout(third, ["a", "b"], live, bits=4, num_files=2,
                  mode="append", edges=e)
    assert read_clustered_table(spark, live).count() == 1024
    # scan geometry measures the live unit (no double-count of units)
    geo = layout_scan_fraction(live, {"a": (None, None), "b": (None, None)})
    assert geo["rows"] == 1024

    # second compact folds the appended rows into v_000002; v_000001
    # stays for the retention window (keep_versions=1 default) and the
    # live read is unaffected by its presence
    compact_clustered_table(live, ["a", "b"], bits=4, num_files=2,
                            spark=spark)
    assert resolve_clustered_table(live).endswith("v_000002")
    assert os.path.isdir(v1)
    assert read_clustered_table(spark, live).count() == 1024


def test_string_surrogate_preserves_byte_order(spark):
    """The string binning surrogate (first 6 UTF-8 bytes, zero-padded,
    base-256) orders exactly like python byte-prefix comparison —
    including the zero-pad case ("b" > "ab"), multi-byte UTF-8, and
    >=6-byte-common-prefix collapse."""
    import itertools

    from aind_protein_data_transformation_spark.operators.layout import _numeric_expr

    vals = ["", "a", "ab", "b", "B", "aa", "abc", "zz", "é",
            "日本", "abcdef", "abcdefg", "abcdeg", "https://x",
            "https://y"]
    df = spark.createDataFrame([Row(s=v) for v in vals])
    ks = {r.s: r.k for r in
          df.select("s", _numeric_expr(df, "s").alias("k")).collect()}
    for x, y in itertools.combinations(vals, 2):
        bx, by = x.encode("utf-8")[:6], y.encode("utf-8")[:6]
        if bx < by:
            assert ks[x] < ks[y], (x, y, ks[x], ks[y])
        elif bx > by:
            assert ks[x] > ks[y], (x, y, ks[x], ks[y])
        else:  # same 6-byte prefix collapses (documented quality caveat)
            assert ks[x] == ks[y], (x, y)


def test_string_clustered_layout_prunes_string_box(spark, tmp_path):
    """Clustering on a STRING column is first-class: a (url, size)
    z-order layout prunes a url-range box that a size-sorted layout
    cannot, and the parquet string stats the pruning reads are the real
    values (the surrogate only places rows). Row multiset preserved."""
    domains = [f"{c1}{c2}.example" for c1 in "abcdefgh" for c2 in "abcdefgh"]
    rows = [
        Row(url=f"{d}/page{i:03d}", size=float((i * 37 + len(d)) % 1000))
        for d in domains for i in range(60)
    ]
    df = spark.createDataFrame(rows)

    zo = str(tmp_path / "by_zorder")
    by_size = str(tmp_path / "by_size")
    # hilbert: Morton's quadrant jumps make CONSECUTIVE cells flip url
    # bin, so every group that crosses a cell boundary spans two url
    # bins (measured 0.387 vs hilbert's 0.281 on this fixture) — the
    # adjacency property is what keeps string stats tight here
    zorder_layout(df, ["url", "size"], zo, bits=3, num_files=4,
                  row_group_bytes=4 * 1024, curve="hilbert")
    (df.repartitionByRange(4, "size").sortWithinPartitions("size")
       .write.option("parquet.block.size", str(4 * 1024)).parquet(by_size))

    box = {"url": ("ca", "cz")}  # one of 8 url bins, no size term
    g_z = layout_scan_fraction(zo, box)
    g_s = layout_scan_fraction(by_size, box)
    assert g_z["rows"] == g_s["rows"] == len(rows)
    assert g_s["fraction_rows_kept"] > 0.9       # size layout: no help
    assert g_z["fraction_rows_kept"] < 0.45      # string box prunes
    # the answer is unchanged by the layout
    got = (spark.read.parquet(zo)
           .filter((F.col("url") >= "ca") & (F.col("url") <= "cz")).count())
    expect = sum(1 for r in rows if "ca" <= r.url <= "cz")
    assert got == expect


def test_scan_fraction_predicts_spark_reader_on_strings(spark, tmp_path):
    """The numOutputRows equality pin extended to STRING stats: the
    helper's keep/skip on a string box must equal the rows Spark's
    parquet reader actually produced after row-group pruning (both
    consult the same footer min/max, truncated or not)."""
    domains = [f"{c1}{c2}.example" for c1 in "abcdefgh" for c2 in "abcdefgh"]
    rows = [
        Row(url=f"{d}/page{i:03d}", size=float((i * 37 + len(d)) % 1000))
        for d in domains for i in range(60)
    ]
    out = str(tmp_path / "metrics_str")
    zorder_layout(spark.createDataFrame(rows), ["url", "size"], out,
                  bits=4, num_files=4, row_group_bytes=8 * 1024)
    q = spark.read.parquet(out).filter(
        (F.col("url") >= "c") & (F.col("url") <= "e")
    )
    q.collect()
    ep = q._jdf.queryExecution().executedPlan()
    if ep.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        ep = ep.executedPlan()
    leaves = ep.collectLeaves()
    scans = [
        leaves.apply(i)
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "FileSourceScanExec"
    ]
    assert len(scans) == 1
    scan_rows = scans[0].metrics().apply("numOutputRows").value()
    g = layout_scan_fraction(out, {"url": ("c", "e")})
    assert scan_rows == g["rows_kept"], (scan_rows, g)
    assert g["rows_kept"] < g["rows"]


def test_manifest_swap_through_hadoop_filesystem_branch(spark, tmp_path):
    """The scheme-portable half of the manifest regime, exercised live:
    the pointer protocol dispatches on the path SCHEME (layout.py
    ``_use_local_fs`` — never by probing the driver's local disk), and
    an explicit ``file:`` URI with a session routes pointer
    read/commit, garbage delete, and the root sweep through the Hadoop
    FileSystem — the same code an s3a:// table would run, minus the
    network."""
    from aind_protein_data_transformation_spark.operators.layout import (
        _read_pointer,
        compact_clustered_table,
        read_clustered_table,
        resolve_clustered_table,
    )

    local_root = tmp_path / "t"
    uri = "file:" + str(local_root)
    df = spark.createDataFrame(
        [Row(a=float(a), b=float(b)) for a in range(32) for b in range(32)]
    )
    zorder_layout(df, ["a", "b"], uri, bits=4, num_files=2)
    assert _read_pointer(uri, spark) is None

    compact_clustered_table(uri, ["a", "b"], bits=4, num_files=2,
                            spark=spark)
    # pointer readable only through the Hadoop branch (no local file
    # at the literal URI string), resolution + read work end to end
    assert _read_pointer(uri, spark) == "v_000001"
    assert resolve_clustered_table(uri, spark=spark).endswith("v_000001")
    assert read_clustered_table(spark, uri).count() == 1024
    # the flat DATA files were swept through the Hadoop delete;
    # non-data residue (_SUCCESS, .crc) may remain but no parquet does
    assert not [n for n in os.listdir(local_root) if n.endswith(".parquet")]
    assert "_versions" in os.listdir(local_root)

    # second compact through the same branch: commit overwrites the
    # pointer via fs.create(overwrite) and retires v_000001
    # (keep_versions=0 so the retired-unit delete itself exercises the
    # Hadoop branch too)
    compact_clustered_table(uri, ["a", "b"], bits=4, num_files=2,
                            spark=spark, keep_versions=0)
    assert _read_pointer(uri, spark) == "v_000002"
    assert not (local_root / "_versions" / "v_000001").exists()
    assert read_clustered_table(spark, uri).count() == 1024

    # third compact with the retention default, then an explicit vacuum
    # — both resolving, listing, and deleting through the Hadoop branch
    from aind_protein_data_transformation_spark.operators.layout import vacuum_clustered_table
    compact_clustered_table(uri, ["a", "b"], bits=4, num_files=2,
                            spark=spark)
    assert (local_root / "_versions" / "v_000002").exists()   # retained
    removed = vacuum_clustered_table(uri, spark)
    assert [os.path.basename(p) for p in removed] == ["v_000002"]
    assert not (local_root / "_versions" / "v_000002").exists()
    assert read_clustered_table(spark, uri).count() == 1024


def test_blank_pointer_fails_loudly_never_multi_unit(spark, tmp_path):
    """An empty _CURRENT (mid-commit / crashed-commit state on stores
    without atomic small-file replace) must resolve as if no pointer
    existed — loud downstream failure — NEVER as an empty version name,
    which would join to _versions/ itself and silently read EVERY unit
    at once (duplicate rows)."""
    from aind_protein_data_transformation_spark.operators.layout import (
        _read_pointer,
        compact_clustered_table,
        resolve_clustered_table,
    )

    live = str(tmp_path / "t")
    df = spark.createDataFrame(
        [Row(a=float(a), b=float(b)) for a in range(16) for b in range(16)]
    )
    zorder_layout(df, ["a", "b"], live, bits=3, num_files=2)
    compact_clustered_table(live, ["a", "b"], bits=3, num_files=2,
                            spark=spark)
    pointer = os.path.join(live, "_versions", "_CURRENT")
    with open(pointer, "w") as f:
        f.write("")  # simulate the crashed-commit state

    assert _read_pointer(live, spark) is None
    assert resolve_clustered_table(live) == live  # root, not _versions/
    # and the root holds no data files, so the read fails LOUDLY
    with pytest.raises(Exception):
        spark.read.parquet(resolve_clustered_table(live)).collect()


def test_manifest_sweep_preserves_caller_sidecars(spark, tmp_path):
    """The post-commit root sweep removes stale DATA files only: a
    caller-persisted sidecar next to the data (the edge snapshot the
    zorder_layout docstring invites — HIDDEN-named per the Spark
    sidecar convention, or any flat read would parse it as parquet)
    survives every compact."""
    import json

    from aind_protein_data_transformation_spark.operators.layout import (
        compact_clustered_table,
        read_clustered_table,
    )

    live = str(tmp_path / "t")
    df = spark.createDataFrame(
        [Row(a=float(a), b=float(b)) for a in range(16) for b in range(16)]
    )
    edges = zorder_layout(df, ["a", "b"], live, bits=3, num_files=2)
    sidecar = os.path.join(live, "_edges.json")
    with open(sidecar, "w") as f:
        json.dump(edges, f)

    for _ in range(2):
        compact_clustered_table(live, ["a", "b"], bits=3, num_files=2,
                                spark=spark)
    assert os.path.isfile(sidecar)          # sidecar survived both sweeps
    with open(sidecar) as f:
        assert json.load(f) == edges
    # while the stale flat DATA files are gone
    assert not [n for n in os.listdir(live) if n.endswith(".parquet")]
    assert read_clustered_table(spark, live).count() == 256


def test_manifest_retention_keeps_in_flight_reader_alive(spark, tmp_path):
    """The reader-vs-cleanup boundary (VERDICT round 13 #2): a
    DataFrame resolved against the pre-compact live unit still
    collects correctly AFTER a compact promotes the next version —
    keep_versions=1 (the default) retains the immediately-previous
    unit exactly for that reader. The explicit vacuum then reclaims
    it, after which the stale plan fails LOUDLY (missing files), never
    silently wrong."""
    from aind_protein_data_transformation_spark.operators.layout import (
        compact_clustered_table,
        resolve_clustered_table,
        vacuum_clustered_table,
    )

    live = str(tmp_path / "t")
    df = spark.createDataFrame(
        [Row(a=float(a), b=float(b)) for a in range(32) for b in range(32)]
    )
    zorder_layout(df, ["a", "b"], live, bits=4, num_files=2)
    compact_clustered_table(live, ["a", "b"], bits=4, num_files=2,
                            spark=spark)
    v1 = resolve_clustered_table(live)

    # the in-flight reader: resolved v_000001, scan not yet finished
    reader = spark.read.parquet(v1)

    compact_clustered_table(live, ["a", "b"], bits=4, num_files=2,
                            spark=spark)
    assert resolve_clustered_table(live).endswith("v_000002")
    # the pre-compact reader finishes its scan against the retained unit
    assert reader.count() == 1024
    assert reader.agg(F.sum("a")).collect()[0][0] == 32 * sum(range(32))

    # explicit vacuum reclaims the retained unit; the stale reader now
    # fails loudly on its next action
    assert vacuum_clustered_table(live, spark) == [v1]
    with pytest.raises(Exception):
        spark.read.parquet(v1).collect()
    # fresh resolution is unaffected
    fresh = spark.read.parquet(resolve_clustered_table(live))
    assert fresh.count() == 1024


def test_vacuum_respects_keep_versions_and_flat_noop(spark, tmp_path):
    """vacuum(keep_versions=k) keeps the k newest retired units;
    vacuum on a never-manifest-compacted table is a no-op."""
    from aind_protein_data_transformation_spark.operators.layout import (
        compact_clustered_table,
        resolve_clustered_table,
        vacuum_clustered_table,
    )

    live = str(tmp_path / "t")
    df = spark.createDataFrame(
        [Row(a=float(a), b=float(b)) for a in range(16) for b in range(16)]
    )
    zorder_layout(df, ["a", "b"], live, bits=3, num_files=2)
    assert vacuum_clustered_table(live, spark) == []  # flat: no-op

    # three compacts with an unbounded window: v1 and v2 both retained
    for _ in range(3):
        compact_clustered_table(live, ["a", "b"], bits=3, num_files=2,
                                spark=spark,
                                keep_versions=10)
    assert resolve_clustered_table(live).endswith("v_000003")
    vroot = os.path.join(live, "_versions")
    assert os.path.isdir(os.path.join(vroot, "v_000001"))
    assert os.path.isdir(os.path.join(vroot, "v_000002"))

    # keep the newest retired unit (v2), reclaim the older (v1)
    removed = vacuum_clustered_table(live, spark, keep_versions=1)
    assert removed == [os.path.join(vroot, "v_000001")]
    assert os.path.isdir(os.path.join(vroot, "v_000002"))


def test_pointer_protocol_dispatches_on_scheme(spark, tmp_path):
    """The pointer protocol picks local-vs-Hadoop by path SCHEME, never
    by probing the driver's local disk (ADVICE round 13): a remote
    scheme routes to the Hadoop FileSystem even when a same-named
    directory exists locally; scheme-less paths follow fs.defaultFS;
    file: URIs go through Hadoop when a session is available and plain
    I/O otherwise."""
    from aind_protein_data_transformation_spark.operators.layout import (
        _strip_file_scheme,
        _use_local_fs,
    )

    local_dir = str(tmp_path / "shadow")
    os.makedirs(local_dir)
    # remote scheme: NEVER local, even though the local twin dir exists
    assert not _use_local_fs("s3a:/" + local_dir, spark)
    assert not _use_local_fs("hdfs://nn" + local_dir, spark)
    # scheme-less under a file: defaultFS (the test session): local
    assert _use_local_fs(local_dir, spark)
    assert _use_local_fs(local_dir + "/nonexistent", spark)  # no probing
    # scheme-less without a session: local (the no-spark resolve path)
    assert _use_local_fs(local_dir, None)
    # explicit file: URI — Hadoop with a session, plain I/O without
    assert not _use_local_fs("file:" + local_dir, spark)
    assert _use_local_fs("file:" + local_dir, None)

    assert _strip_file_scheme("file:///x/y") == "/x/y"
    assert _strip_file_scheme("file:/x/y") == "/x/y"
    assert _strip_file_scheme("/x/y") == "/x/y"


def test_remote_scheme_without_session_raises(tmp_path):
    """A remote-scheme path with NO spark session raises a clear
    ValueError at the dispatch point (ADVICE round 14): the old
    fallthrough crashed later with an opaque AttributeError inside
    ``_hadoop_fs`` — or, for a reader, looked like 'no pointer here'."""
    from aind_protein_data_transformation_spark.operators.layout import (
        _use_local_fs,
        load_edge_snapshot,
        resolve_clustered_table,
    )

    with pytest.raises(ValueError, match="spark session required"):
        _use_local_fs("s3a://bucket/table", None)
    # and the public entry points surface the same message
    with pytest.raises(ValueError, match="spark session required"):
        resolve_clustered_table("s3a://bucket/table")
    with pytest.raises(ValueError, match="spark session required"):
        load_edge_snapshot("hdfs://nn/table")


def test_ingest_fold_through_hadoop_filesystem_branch(spark, tmp_path):
    """The batch-keyed ingest fold over an explicit ``file:`` URI with
    a session: unit listing, the per-folded-unit marker existence
    probe, the ``_FOLD_COMMITTED`` PUT, the
    edge-snapshot read, and the retained-generation deletes all route
    through the Hadoop FileSystem — the same code an s3a:// lake would
    run, minus the network."""
    from aind_protein_data_transformation_spark.operators.layout import (
        compact_ingest_units,
        read_ingest_lake,
        repair_ingest_units,
        resolve_ingest_units,
        save_edge_snapshot,
    )

    local_root = tmp_path / "lake"
    uri = "file:" + str(local_root)
    df = spark.createDataFrame(
        [Row(a=float(a), b=float(b)) for a in range(32) for b in range(32)]
    )
    edges = None
    for i in range(3):
        edges = zorder_layout(
            df.filter((F.col("a").cast("int") % 3) == i), ["a", "b"],
            f"{uri}/batch={i}", bits=4, num_files=1, mode="overwrite",
            edges=edges,
        )
    save_edge_snapshot(uri, edges, spark)      # Hadoop write branch

    assert [os.path.basename(u) for u in resolve_ingest_units(uri, spark)] \
        == ["batch=0", "batch=1", "batch=2"]
    report = compact_ingest_units(uri, ["a", "b"], spark, bits=4,
                                  num_files=1, keep_last=1)
    assert report["folded"] == 2 and report["unit"] == "batch=c0-1"
    assert report["edges"] == edges            # snapshot read via Hadoop
    # the commit marker landed through fs.create at the real local path
    assert (local_root / "batch=c0-1" / "_FOLD_COMMITTED").exists()
    # resolver: live units exclude the retained originals
    assert [os.path.basename(u) for u in resolve_ingest_units(uri, spark)] \
        == ["batch=c0-1", "batch=2"]
    assert read_ingest_lake(spark, uri).count() == 1024
    # reclaim through the Hadoop delete branch
    assert repair_ingest_units(uri, spark) == ["batch=0", "batch=1"]
    assert not (local_root / "batch=0").exists()
    assert read_ingest_lake(spark, uri).count() == 1024


def test_ingest_fold_direct_promote_through_hadoop_branch(spark, tmp_path):
    """The fold over an explicit ``file:`` URI — the same Hadoop
    FileSystem code an s3a:// lake would run, with ZERO renames
    asserted: the folded
    unit is written straight to its marker-gated final name, the
    ``_FOLD_COMMITTED`` PUT goes through ``fs.create``, and the
    ``_rename`` helper is never invoked (monkeypatch-asserted), so on a
    real object store no per-object copy ever happens."""
    import aind_protein_data_transformation_spark.operators.layout as lm
    from aind_protein_data_transformation_spark.operators.layout import (
        compact_ingest_units,
        read_ingest_lake,
        resolve_ingest_units,
        save_edge_snapshot,
    )

    local_root = tmp_path / "lake"
    uri = "file:" + str(local_root)
    df = spark.createDataFrame(
        [Row(a=float(a), b=float(b)) for a in range(32) for b in range(32)]
    )
    edges = None
    for i in range(3):
        edges = zorder_layout(
            df.filter((F.col("a").cast("int") % 3) == i), ["a", "b"],
            f"{uri}/batch={i}", bits=4, num_files=1, mode="overwrite",
            edges=edges,
        )
    save_edge_snapshot(uri, edges, spark)

    real_rename = lm._rename

    def forbid(src, dst, spark_):
        raise AssertionError(f"the fold must not rename ({src})")

    lm._rename = forbid
    try:
        report = compact_ingest_units(uri, ["a", "b"], spark, bits=4,
                                      num_files=1, keep_last=1)
    finally:
        lm._rename = real_rename
    assert report["folded"] == 2 and report["unit"] == "batch=c0-1"
    assert (local_root / "batch=c0-1" / "_FOLD_COMMITTED").exists()
    assert [os.path.basename(u) for u in resolve_ingest_units(uri, spark)] \
        == ["batch=c0-1", "batch=2"]
    assert read_ingest_lake(spark, uri).count() == 1024

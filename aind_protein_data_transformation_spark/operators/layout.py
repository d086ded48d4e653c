"""Multi-dimensional data clustering (Z-order layout) for scan pruning.

The 100-TB problem this solves: a table sorted (or written) on ONE key
skips row groups only for predicates on that key. Analytic predicates
are usually multi-column boxes (TPC-H Q6: shipdate range AND discount
range AND quantity cap); on a single-key layout every other predicate
column's per-row-group [min, max] spans the whole domain, so parquet
min/max pruning keeps everything and the scan reads 100 TB to answer a
1-TB question. Interleaving the bits of quantile-binned column ranks —
a Z-order / Morton key — makes every contiguous key range a small
hyper-box in predicate space, so EVERY clustered column's row-group
stats become selective at once (the same reason Delta/Iceberg OPTIMIZE
cluster by Z-order). This is the write-side twin of the read-side
pushdown the engine already plan-asserts: layout work done once at
write time, paid back on every subsequent scan.

Spark-first construction — everything stays JVM-side and declarative:

- Bin edges come from ONE sketch pass (``DataFrame.approxQuantile``,
  Greenwald-Khanna); the driver-side object is ``(2^bits - 1)`` doubles
  per column — bounded by construction, never data-sized.
- The bin index is a size-of-filtered-literal-array higher-order
  function (no Python UDF); the Morton key is pure
  ``shiftright/bitwiseAND/shiftleft/bitwiseOR`` — whole-stage codegen.
- The physical re-layout is ``repartitionByRange`` on the key (one
  shuffle — the unavoidable cost of re-clustering, amortized over every
  later scan) + ``sortWithinPartitions`` so each output file AND each
  row group within it covers a contiguous Z-range.

Reference parity note: the reference's whole output side is layout
chosen for downstream access (czi_to_zarr.py:545-553 writes chunked
zarr levels sized for the viewer's access pattern; utils.py block
expansion A18). Z-order is the relational form of the same idea: pick
the physical layout from the read pattern, not the arrival order.

``layout_scan_fraction`` measures the payoff deterministically: it
reads only parquet FOOTERS (pyarrow, driver-side metadata) and counts
row groups whose per-column [min, max] intersect a predicate box —
exactly the keep/skip decision Spark's parquet reader makes from the
pushed filters, with zero timing noise.
"""

from __future__ import annotations

import os
from typing import Sequence

# Hard dependency, deliberate: the hilbert re-rank below is a
# ``pandas_udf`` whose type hints are strings under ``from __future__
# import annotations`` and resolve in MODULE globals, so ``pd`` must be
# importable at module load — a function-local import cannot satisfy the
# hint resolution. pyspark's own Arrow paths (pandas_udf, mapInPandas)
# already require pandas, so this adds no dependency the engine could
# otherwise run without.
import pandas as pd  # noqa: F401  (resolves pandas_udf type hints)
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "auto_bits",
    "quantile_bin_edges",
    "zorder_key",
    "zorder_layout",
    "hilbert_from_morton",
    "compact_clustered_table",
    "vacuum_clustered_table",
    "compact_ingest_units",
    "repair_ingest_units",
    "resolve_ingest_units",
    "read_ingest_lake",
    "save_edge_snapshot",
    "load_edge_snapshot",
    "resolve_clustered_table",
    "read_clustered_table",
    "layout_scan_fraction",
]


def auto_bits(
    table_rows: int,
    n_cols: int,
    rows_per_row_group: int,
    max_total_bits: int | None = None,
) -> int:
    """Law-sized ``bits`` for :func:`zorder_layout` (BENCH.md round 12):
    the pruning optimum is a key-space CELL count within ~2-10x of the
    table's row-group count — ``(log2(n_groups) + 2) / n_cols``,
    clamped to [1, floor(63/n_cols)]. Pass the rows-per-group your
    ``row_group_bytes`` (or Spark's 128 MB default) actually yields;
    estimate it as ``row_group_bytes / avg_row_bytes`` when unsure —
    the optimum is a shallow basin (measured: b3 and b4 within 6% of
    each other at 1789 groups), so a rough estimate lands in it.

    ``max_total_bits`` caps ``bits * n_cols`` below the 63-bit key
    budget; pass 24 (the :func:`hilbert_from_morton` lookup ceiling)
    when the sized geometry will be laid out with ``curve="hilbert"``
    — without the cap, small ``n_cols`` on a large table returns a
    bits that the Hilbert lookup rejects at layout time.
    """
    import math

    if table_rows < 1 or n_cols < 1 or rows_per_row_group < 1:
        raise ValueError("table_rows, n_cols, rows_per_row_group must be >= 1")
    budget = _MAX_KEY_BITS if max_total_bits is None else max_total_bits
    if not 1 <= budget <= _MAX_KEY_BITS:
        raise ValueError(f"max_total_bits must be in [1, {_MAX_KEY_BITS}]")
    n_groups = max(1, table_rows // rows_per_row_group)
    bits = round((math.log2(n_groups) + 2) / n_cols)
    return max(1, min(bits, budget // n_cols))

#: Key is built in a signed 64-bit long: bits * n_cols must leave the
#: sign bit alone.
_MAX_KEY_BITS = 63

_NUMERIC_TYPES = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
}


def _numeric_expr(df: DataFrame, col: str) -> Column:
    """Project ``col`` to DOUBLE for binning.

    Timestamps/dates cast through their epoch value (UTC session pinned
    at every query boundary by the registry wrapper, so the cast is
    deterministic); decimals and the integer family cast losslessly for
    binning purposes (bin boundaries only need ORDER, not exact values).

    STRING columns bin through an order-preserving byte-prefix
    surrogate: the first 6 bytes of the UTF-8 encoding, zero-padded and
    decoded base-256 (pure built-ins —
    ``conv(rpad(hex(substring(encode(col))...)))`` — inside whole-stage
    codegen). 48 bits fit a double exactly, and zero-padding preserves
    bytewise lexicographic order (``"b" > "ab"`` survives the
    numerification), which is Spark's default binary collation. Two
    caveats, both QUALITY-only (binning needs order, not identity):
    values sharing a >=6-byte prefix collapse into one bin (a table of
    URLs all starting ``https://`` clusters on nothing — strip the
    common prefix or cluster a higher-entropy column), and the order is
    bytewise, not locale collation. Regime note: the surrogate's value
    is HIGH-cardinality strings (url/domain prefixes, document ids),
    where hive ``partitionBy`` would explode into per-value
    directories; for a low-cardinality string (a 5-value ``lang``
    column), ``partitionBy`` gives perfect directory-level pruning and
    dominates — use it instead. Parquet min/max stats on the stored
    string column remain exact strings, so
    :func:`layout_scan_fraction` boxes and Spark's pushed string-range
    filters prune against the REAL values — the surrogate only places
    rows, it is never stored.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        raise ValueError(f"column {col!r} not in DataFrame")
    if dtype in ("timestamp", "timestamp_ntz", "date"):
        return F.col(col).cast("timestamp").cast("double")
    if dtype in _NUMERIC_TYPES or dtype.startswith("decimal"):
        return F.col(col).cast("double")
    if dtype == "string":
        prefix = F.substring(F.encode(F.col(col), "UTF-8"), 1, 6)
        return F.conv(F.rpad(F.hex(prefix), 12, "0"), 16, 10).cast("double")
    raise ValueError(
        f"zorder column {col!r} has non-orderable-numeric type {dtype}; "
        "cast to a numeric surrogate (e.g. a hash or code) first"
    )


def quantile_bin_edges(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 8,
    relative_error: float | None = None,
) -> dict[str, list[float]]:
    """One-pass per-column quantile cut points for ``2^bits`` bins.

    Returns ``col -> ascending interior edges`` (at most ``2^bits - 1``
    per column; duplicates from skewed/low-cardinality columns are
    collapsed — they would only waste bin codes). NULLs are excluded by
    the sketch and land in bin 0 at key-build time.

    Scale shape: ONE aggregation pass over the data builds all sketches
    (Greenwald-Khanna, mergeable, map-side partials); the collected
    object is ``len(cols) * (2^bits - 1)`` doubles — driver-bounded by
    the geometry, not the data.
    """
    if bits < 1:
        raise ValueError(f"bits must be >= 1, got {bits}")
    if not cols:
        raise ValueError("need at least one zorder column")
    if bits * len(cols) > _MAX_KEY_BITS:
        raise ValueError(
            f"bits * n_cols = {bits * len(cols)} exceeds the {_MAX_KEY_BITS}-bit "
            "long key budget; lower bits or cluster fewer columns"
        )
    n_bins = 1 << bits
    probs = [i / n_bins for i in range(1, n_bins)]
    if relative_error is None:
        # Default: fine enough that adjacent target quantiles stay
        # distinguishable (quarter of a bin width), floored to keep the
        # sketch bounded for large bits.
        relative_error = max(1.0 / (4 * n_bins), 1e-5)
    proj = df.select(
        *[_numeric_expr(df, c).alias(f"__zq_{i}") for i, c in enumerate(cols)]
    )
    raw = proj.approxQuantile(
        [f"__zq_{i}" for i in range(len(cols))], probs, relative_error
    )
    edges: dict[str, list[float]] = {}
    for c, qs in zip(cols, raw):
        dedup: list[float] = []
        for v in qs:
            if not dedup or v > dedup[-1]:
                dedup.append(float(v))
        edges[c] = dedup
    return edges


def zorder_key(
    df: DataFrame,
    edges: dict[str, list[float]],
    bits: int = 8,
) -> Column:
    """Morton (bit-interleaved) key over quantile-binned columns.

    ``bin_i = |{edge : edge <= x}|`` via a filtered-literal-array HOF
    (rows with NULL get bin 0 — the HOF drops elements whose predicate
    is NULL, so NULLs cluster together at the low end instead of
    erroring; NaN gets the TOP bin — Spark orders NaN above every
    double, so ``edge <= NaN`` is true for all edges — both pinned in
    tests/test_layout.py); the key interleaves bit ``b`` of column
    ``i`` at position ``b * n_cols + i``. Pure built-ins end to end —
    the whole expression lives inside whole-stage codegen.
    """
    cols = list(edges)
    if bits < 1:
        raise ValueError(f"bits must be >= 1, got {bits}")
    if not cols:
        raise ValueError("need at least one zorder column")
    if bits * len(cols) > _MAX_KEY_BITS:
        raise ValueError(
            f"bits * n_cols = {bits * len(cols)} exceeds the {_MAX_KEY_BITS}-bit "
            "long key budget; lower bits or cluster fewer columns"
        )
    max_bin = (1 << bits) - 1
    key = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        col_edges = edges[c]
        if len(col_edges) > max_bin:
            raise ValueError(
                f"{len(col_edges)} edges for {c!r} need more than {bits} bits"
            )
        x = _numeric_expr(df, c)
        if col_edges:
            lit_edges = F.array(*[F.lit(e) for e in col_edges])
            bin_idx = F.size(F.filter(lit_edges, lambda e: e <= x)).cast("long")
        else:  # constant column: everything in bin 0
            bin_idx = F.lit(0).cast("long")
        for b in range(bits):
            bit = F.shiftright(bin_idx, b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * len(cols) + i))
    return key


def hilbert_from_morton(n_cols: int, bits: int):
    """Exact Morton-cell → Hilbert-index permutation for a
    ``n_cols``-dimensional ``bits``-per-axis grid (Skilling's
    transpose-form algorithm, "Programming the Hilbert Curve", AIP
    2004 — public domain and the standard n-D construction).

    Returns a numpy int64 array ``h`` with ``h[morton] = hilbert``;
    a bijection over ``2^(bits*n_cols)`` cells (test-pinned, along
    with the defining adjacency property: consecutive Hilbert indexes
    differ by exactly 1 in exactly one axis).

    Why a lookup instead of a column expression: the Hilbert state
    machine updates every axis at every bit level, so unrolling it
    into Catalyst expressions duplicates each level's subtree into the
    next — exponential expression growth. The curve value is a
    per-CELL property, and the cell count is fixed by the GEOMETRY
    (``2^(bits*n_cols)``), not the data, so the scale-correct form is
    a generated lookup relation broadcast-joined onto the Morton key
    the built-ins already compute: O(cells), never O(rows). Size the
    geometry for the broadcast — 64k cells for 2×8-bit (~1 MB), 262k
    for 3×6-bit (~4 MB, the registered query's choice); the 2^24 cap
    is ~270 MB driver-side and is the measured-experiment ceiling, not
    a production recommendation (prefer bits*n_cols <= 20).
    """
    import numpy as np

    if bits < 1 or n_cols < 1:
        raise ValueError("bits and n_cols must be >= 1")
    total_bits = bits * n_cols
    if total_bits > 24:
        raise ValueError(
            f"lookup would have 2^{total_bits} cells at 16 bytes each "
            f"(~{(1 << total_bits) * 16 >> 20} MB before broadcast); keep "
            "bits*n_cols <= 24, and prefer <= 20 in production — the "
            "relation is broadcast to every executor (2^20 cells ≈ 16 MB, "
            "2^24 ≈ 270 MB)"
        )
    cells = 1 << total_bits
    grid = np.arange(cells, dtype=np.int64)
    # de-interleave the Morton index back to per-axis bin coordinates
    # (axis i occupies bit positions b*n_cols + i — zorder_key's layout)
    X = np.zeros((n_cols, cells), dtype=np.int64)
    for b in range(bits):
        for i in range(n_cols):
            X[i] |= ((grid >> (b * n_cols + i)) & 1) << b
    # Skilling: axes -> transpose form (in place, vectorized on masks)
    M = 1 << (bits - 1)
    Q = M
    while Q > 1:
        P = Q - 1
        for i in range(n_cols):
            hit = (X[i] & Q) != 0
            # invert low bits of X[0] where this axis has the Q bit...
            X[0] = np.where(hit, X[0] ^ P, X[0])
            # ...else exchange the low bits of X[0] and X[i]
            t = np.where(hit, 0, (X[0] ^ X[i]) & P)
            X[0] ^= t
            X[i] ^= t
        Q >>= 1
    for i in range(1, n_cols):
        X[i] ^= X[i - 1]
    t = np.zeros(cells, dtype=np.int64)
    Q = M
    while Q > 1:
        t = np.where((X[n_cols - 1] & Q) != 0, t ^ (Q - 1), t)
        Q >>= 1
    for i in range(n_cols):
        X[i] ^= t
    # transpose form -> scalar index: bit q of axis i lands at
    # position q*n_cols + (n_cols-1-i) (X[0] carries the MOST
    # significant interleaved bit per Skilling's convention)
    h = np.zeros(cells, dtype=np.int64)
    for q in range(bits):
        for i in range(n_cols):
            h |= ((X[i] >> q) & 1) << (q * n_cols + (n_cols - 1 - i))
    return h


#: Rows written to the sizing sample when ``bits=None`` law-sizes the
#: geometry — enough for a stable encoded-bytes-per-row estimate, small
#: enough that the sample write is driver-trivial at any table size.
_BITS_SAMPLE_ROWS = 50_000

#: Spark's parquet.block.size default — the production row-group size
#: the bits-sizing law assumes when ``row_group_bytes`` is not set.
_DEFAULT_ROW_GROUP_BYTES = 128 * 1024 * 1024


def _hadoop_fs(spark, path: str):
    """Hadoop FileSystem + Path for ``path`` — resolves through the
    session's Hadoop conf, so file://, hdfs:// and s3a:// paths all get
    the right filesystem (unlike ``os``/``shutil``, which only see the
    local disk)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _hadoop_delete(spark, path: str) -> None:
    fs, jpath = _hadoop_fs(spark, path)
    fs.delete(jpath, True)


def _sized_bits(
    df: DataFrame,
    cols: Sequence[str],
    out_path: str,
    row_group_bytes: int | None,
    compression: str,
    max_total_bits: int | None,
) -> int:
    """Measure the inputs the bits-sizing law needs and apply it.

    ``auto_bits`` wants the table's row-group count, i.e. rows and
    rows-per-group. Rows come from one ``count()`` (metadata-only on a
    plain parquet scan; one pass on a computed input — callers who
    already know the row count can skip this whole helper by passing
    ``bits=`` explicitly). Rows-per-group is OBSERVED, not modeled: a
    bounded sample is written next to the target
    (``<out_path>.bitsizing``, deleted via the Hadoop FileSystem API
    so object-store paths clean up too) with the SAME compression and
    ``parquet.block.size`` the real layout will use, and the sample's
    footers report how many rows the writer actually fit per group —
    which bakes in encodings, dictionary pages, and the writer's flush
    heuristics that a bytes-per-row model gets wrong (measured: a
    dictionary-heavy fixture encodes at ~2 B/row but the writer still
    flushes ~500-row groups at 8 KB). When the sample is too small to
    fill groups at the target size (the production 128 MB case — 50k
    sampled rows rarely reach 128 MB), the fallback divides the target
    by the sample's encoded bytes per row; either way the law's basin
    is shallow, so a rough estimate lands in it. Footer geometry is
    read with pyarrow when the path is local; elsewhere the fallback
    is file sizes through the Hadoop FS (compressed bytes — undersizes
    bits by at most ~log2(compression_ratio)/n_cols).
    """
    n_rows = df.count()
    if n_rows == 0:
        raise ValueError(
            "cannot law-size bits for an empty DataFrame; pass bits explicitly"
        )
    spark = df.sparkSession
    target = (
        _DEFAULT_ROW_GROUP_BYTES if row_group_bytes is None
        else int(row_group_bytes)
    )
    tmp = out_path.rstrip("/") + ".bitsizing"
    (
        df.limit(_BITS_SAMPLE_ROWS)
        .coalesce(1)
        .write.mode("overwrite")
        .option("compression", compression)
        .option("parquet.block.size", str(target))
        .parquet(tmp)
    )
    try:
        sample_bytes = sample_rows = 0
        group_rows: list[int] = []
        if os.path.isdir(tmp):
            import pyarrow.parquet as pq

            for root, _dirs, names in os.walk(tmp):
                for n in names:
                    if not n.endswith(".parquet"):
                        continue
                    meta = pq.ParquetFile(os.path.join(root, n)).metadata
                    for g in range(meta.num_row_groups):
                        rg = meta.row_group(g)
                        sample_bytes += rg.total_byte_size
                        sample_rows += rg.num_rows
                        group_rows.append(rg.num_rows)
        else:
            fs, jpath = _hadoop_fs(spark, tmp)
            it = fs.listFiles(jpath, True)
            while it.hasNext():
                st = it.next()
                if st.getPath().getName().endswith(".parquet"):
                    sample_bytes += st.getLen()
            sample_rows = spark.read.parquet(tmp).count()
    finally:
        _hadoop_delete(spark, tmp)
    if len(group_rows) >= 4:
        # enough full groups in the sample: use the writer's actual
        # flush behavior (median is robust to the one partial tail
        # group the single-file sample produces)
        group_rows.sort()
        rows_per_group = group_rows[len(group_rows) // 2]
    else:
        avg_row_bytes = max(1, sample_bytes // max(1, sample_rows))
        rows_per_group = max(1, target // avg_row_bytes)
    return auto_bits(
        n_rows, len(cols), rows_per_group, max_total_bits=max_total_bits
    )


def zorder_layout(
    df: DataFrame,
    cols: Sequence[str],
    out_path: str,
    bits: int | None = None,
    num_files: int | None = None,
    row_group_bytes: int | None = None,
    compression: str = "zstd",
    curve: str = "morton",
    mode: str = "overwrite",
    edges: dict[str, list[float]] | None = None,
) -> dict[str, list[float]]:
    """Write ``df`` to ``out_path`` clustered on the Z-order of ``cols``.

    One sketch pass for the bin edges, then one range shuffle
    (``repartitionByRange`` samples the key, so file k covers the k-th
    contiguous Z-range) + a per-partition sort so row groups WITHIN a
    file are contiguous too — min/max stats selective at both the file
    and the row-group level. The helper key column is dropped before
    the write; the stored schema is the input schema.

    ``row_group_bytes`` maps to ``parquet.block.size``. Leave it None in
    production (Spark's 128 MB default is the right row-group size for
    a 100-TB table); tests and sandbox-scale measurements set it small
    so a 600k-row table still has enough row groups for the skip
    geometry to be visible.

    **``bits=None`` (the default) law-sizes the geometry**: the
    measured optimum (BENCH.md round 12, a clean U-shape at two
    scales) is a CELL count within ~2-10x of the table's row-group
    count — ``bits ≈ (log2(table_rows / rows_per_row_group) + 2) /
    len(cols)`` (:func:`auto_bits`). Too-coarse bins leave many groups
    inside one cell (rows there are key ties in arbitrary order, so
    group stats inflate to the cell box); too-fine bins make each
    group span thousands of cells and the curve's wander inflates the
    box the other way. Measured: the sized geometry prunes ~2.5x
    better than bits=8 on a 1789-group table (0.078 vs 0.194 kept on
    the off-key box) — which is why the measured law, not a fixed 8,
    is the default. The law's inputs are measured by
    :func:`_sized_bits` (one ``count()`` + a bounded sizing-sample
    write next to the target); pass ``bits=`` explicitly to skip that
    measurement when you already know the geometry you want. With
    ``edges=`` and ``bits=None``, bits is derived as the smallest
    width that fits the provided edges — deterministic, but an append
    pipeline that wants every batch in ONE exact key space should pass
    the same explicit ``bits`` alongside the shared ``edges`` (as the
    streaming-ingest composition does). The rule means bits DROPS as
    row groups grow toward production size — a 100-TB table at 128 MB
    groups (~800k groups) wants ~7 bits per column for 3 columns, and
    the hilbert lookup stays tiny.

    ``curve="hilbert"`` re-ranks the Morton cells through the Hilbert
    permutation (:func:`hilbert_from_morton`) — Hilbert's contiguous
    runs have no quadrant jumps, so row groups cover slightly tighter
    boxes (measured: see scripts/exp_zorder.py / BENCH.md round 12;
    the lookup caps ``bits * len(cols)`` at 24, and ``bits=None``
    law-sizes under that cap automatically). The permutation table is
    geometry-sized (``2^(bits*n_cols)`` int64s), shipped once per
    executor as a SparkContext broadcast and applied by an
    Arrow-batched vectorized take on the Morton key column — no
    session conf is touched and no driver-side lookup relation is
    built, so concurrent queries on the same session are unaffected.

    ``mode="append"`` is the incremental-ingest form: each batch is
    clustered among ITSELF and lands as new files in the same
    directory. Pruning is a per-row-group property — a group from any
    batch covers a tight box regardless of what other batches hold —
    so the kept fraction degrades only by per-batch bin-edge drift and
    coarser tail groups, not with batch count (measured: 10-batch
    incremental append keeps within a few points of the
    globally-clustered fraction, scripts/exp_zorder_incremental.py /
    BENCH.md round 12). This is what makes the layout viable at 100 TB:
    cluster each arriving batch, never re-shuffle history — the same
    never-re-scan-history rule as the incremental LSH index families.

    ``edges=`` accepts the bin edges a previous call returned: the
    sketch pass is skipped (one fewer full read of the batch — at
    100 TB the edges come from the FIRST batch or a periodic refresh,
    not from every append) and every batch shares one key space, the
    same geometry-is-identity rule as the LSH index stamps. Quantile
    drift between the edge snapshot and later batches costs layout
    QUALITY only (bins stop being equal-population), never
    correctness — the key is still monotone in each column.

    Returns the bin edges used (callers re-deriving the key — e.g. to
    route point lookups to files — need the same edges; persisting them
    next to the data is the caller's business, same geometry-is-identity
    rule as the LSH index stamps). A sidecar stored in the table
    directory must use a HIDDEN name (underscore/dot-prefixed, e.g.
    ``_edges.json`` — the ``_delta_log`` convention): Spark's listing
    skips hidden entries, so readers don't try to parse it as parquet,
    and the manifest compact's stale-data sweep (which removes only
    ``*.parquet`` entries) leaves it alone either way.
    """
    cols = list(cols)
    if curve not in ("morton", "hilbert"):
        raise ValueError(f"unknown curve {curve!r}; morton or hilbert")
    if mode not in ("overwrite", "append", "error", "errorifexists"):
        raise ValueError(f"unsupported write mode {mode!r}")
    if "__zkey" in df.columns:
        raise ValueError(
            "input already has a __zkey column — the layout's helper "
            "key would silently replace it and the stored schema would "
            "no longer be the input schema; rename it first"
        )
    # A compacted table's live unit is a versioned directory under
    # <path>/_versions — route the write there, so appends after a
    # compact stay visible to resolved readers instead of landing
    # invisibly in the root.
    out_path = resolve_clustered_table(out_path, spark=df.sparkSession)
    if bits is None:
        if edges is not None:
            # smallest width whose 2^bits - 1 bins fit the provided
            # edges (deterministic given the edges; see docstring for
            # the exact-shared-key-space caveat on append reuse)
            max_edges = max((len(v) for v in edges.values()), default=0)
            bits = max(1, int(max_edges).bit_length())
        else:
            bits = _sized_bits(
                df, cols, out_path, row_group_bytes, compression,
                max_total_bits=24 if curve == "hilbert" else None,
            )
    if edges is None:
        edges = quantile_bin_edges(df, cols, bits=bits)
    elif set(edges) != set(cols):
        raise ValueError(
            f"provided edges cover {sorted(edges)}, need {sorted(cols)}"
        )
    else:
        # bit positions follow dict order in zorder_key — normalize to
        # ``cols`` order so a caller-passed dict can't silently permute
        # the interleave vs the run that produced it
        edges = {c: edges[c] for c in cols}
    key = zorder_key(df, edges, bits=bits)
    if num_files is None:
        num_files = df.sparkSession.sparkContext.defaultParallelism
    keyed = df.withColumn("__zkey", key)
    broadcast_h = None
    if curve == "hilbert":
        from pyspark.sql.functions import pandas_udf

        h = hilbert_from_morton(len(cols), bits)
        # Geometry-sized table, shipped once per executor; the re-rank
        # is a vectorized take over Arrow batches of the key column —
        # always Arrow-framed (pandas UDFs don't depend on the
        # session's createDataFrame-Arrow conf), so nothing
        # session-global is mutated and concurrent queries are safe.
        broadcast_h = df.sparkSession.sparkContext.broadcast(h)

        @pandas_udf("long")
        def _hilbert_rerank(z: pd.Series) -> pd.Series:
            return pd.Series(broadcast_h.value[z.to_numpy()])

        keyed = keyed.withColumn("__zkey", _hilbert_rerank("__zkey"))
    clustered = (
        keyed
        .repartitionByRange(num_files, F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )
    writer = clustered.write.mode(mode).option("compression", compression)
    if row_group_bytes is not None:
        writer = writer.option("parquet.block.size", str(int(row_group_bytes)))
    try:
        writer.parquet(out_path)
    finally:
        if broadcast_h is not None:
            broadcast_h.unpersist()
    return edges


#: Hidden (underscore-prefixed, so Spark's file listing skips it)
#: subdirectory holding the manifest regime's versioned units + pointer.
_VERSIONS_DIR = "_versions"
_CURRENT_POINTER = "_CURRENT"
#: Hidden sidecar name for the persisted bin-edge snapshot (the
#: ``_delta_log`` naming convention: Spark's listing skips it, and the
#: manifest compact's stale-data sweep removes only ``*.parquet``).
_EDGES_SIDECAR = "_edges.json"
#: Commit marker written INSIDE a folded ingest unit, strictly after
#: every data object: a ``batch=c<lo>-<hi>`` unit is live only once
#: this file exists, making the fold's commit point one small PUT even
#: on stores whose directory rename is a non-atomic per-object copy.
#: Underscore-prefixed, so Spark's parquet listing and the footer-
#: geometry walk both skip it.
_FOLD_MARKER = "_FOLD_COMMITTED"


def _write_small_file(full_path: str, payload: str, spark=None) -> None:
    """One small-file overwrite, scheme-dispatched: write-tmp +
    ``os.replace`` locally (atomic on POSIX), a single-object
    ``create(overwrite)`` through the Hadoop FileSystem elsewhere
    (atomic per object on S3-class stores)."""
    if _use_local_fs(full_path, spark):
        local = _strip_file_scheme(full_path)
        os.makedirs(os.path.dirname(local), exist_ok=True)
        tmp = local + ".tmp"
        with open(tmp, "w") as f:
            f.write(payload)
        os.replace(tmp, local)
        return
    fs, jp = _hadoop_fs(spark, full_path)
    stream = fs.create(jp, True)
    try:
        stream.write(bytearray(payload.encode("utf-8")))
    finally:
        stream.close()


def _exists(path: str, spark=None) -> bool:
    """File/dir existence, scheme-dispatched."""
    if _use_local_fs(path, spark):
        return os.path.exists(_strip_file_scheme(path))
    fs, jp = _hadoop_fs(spark, path)
    return bool(fs.exists(jp))


def save_edge_snapshot(
    path: str, edges: dict[str, list[float]], spark=None
) -> None:
    """Persist the bin edges next to the data as the hidden
    ``_edges.json`` sidecar — the concrete form of the zorder_layout
    docstring's persist-the-edges invitation, and what makes an append
    pipeline RESTARTABLE in one key space: a restarted ingest (new
    driver, empty memory) reloads the snapshot instead of re-sketching,
    so every batch before and after the restart shares the exact same
    key geometry. Edges are always ``col -> list[float]``
    (``quantile_bin_edges`` numeric-izes dates/strings before
    sketching), so plain JSON round-trips them exactly. Atomic on local
    filesystems (write-tmp + replace), single-object overwrite through
    the Hadoop FileSystem elsewhere — same dispatch as the manifest
    pointer. The sidecar lives at the table ROOT (not inside a
    versioned unit), so it survives every manifest compact — pinned in
    tests/test_layout.py's sidecar-sweep test."""
    import json

    sidecar = os.path.join(path, _EDGES_SIDECAR)
    _write_small_file(sidecar, json.dumps(edges, sort_keys=True), spark)


def load_edge_snapshot(
    path: str, spark=None
) -> dict[str, list[float]] | None:
    """The persisted bin-edge snapshot for a clustered table, or None
    if none was saved (first-ever run; the caller then sketches once
    and saves). See :func:`save_edge_snapshot`."""
    import json

    sidecar = os.path.join(path, _EDGES_SIDECAR)
    if _use_local_fs(path, spark):
        local = _strip_file_scheme(sidecar)
        if not os.path.isfile(local):
            return None
        with open(local) as f:
            return json.loads(f.read())
    fs, jp = _hadoop_fs(spark, sidecar)
    if not fs.exists(jp):
        return None
    stream = fs.open(jp)
    try:
        return json.loads(
            spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        )
    finally:
        stream.close()


def resolve_clustered_table(path: str, spark=None) -> str:
    """Resolve the LIVE data directory of a clustered table.

    Tables compacted with :func:`compact_clustered_table` keep their
    data in versioned units under ``<path>/_versions/`` with a small
    ``_CURRENT`` pointer file naming the live one (the Delta/Iceberg
    commit shape: retired units are immutable, only the pointer
    changes; the LIVE unit still accepts appends —
    :func:`zorder_layout` routes them there). Tables never compacted
    resolve to ``path`` itself. Readers must go through this helper
    (or :func:`read_clustered_table`); a raw
    ``spark.read.parquet(path)`` on a compacted table fails loudly (the root holds no data files —
    only the hidden ``_versions`` dir plus any non-data sidecars the
    caller keeps there) rather than returning stale data.

    Pass ``spark`` to resolve non-local paths: the pointer is then
    read through the Hadoop FileSystem for the path's scheme (one
    small-object GET). A session is REQUIRED for a remote-scheme path —
    resolving one without a session raises ``ValueError`` (never a
    silent flat-path fallback that would miss the manifest).

    Reader-vs-cleanup boundary: a resolved versioned unit stays
    readable across the NEXT :func:`compact_clustered_table` — its
    cleanup keeps the ``keep_versions`` (default 1) most recently
    retired units precisely so a scan that resolved just before the
    pointer commit can finish. A reader that outlives more compacts
    than that (or an explicit :func:`vacuum_clustered_table`) loses
    its files LOUDLY mid-scan — re-resolve and retry; never silently
    wrong data. (Readers of a not-yet-converted FLAT table get no such
    grace across the first compact — see the eager flat-sweep note in
    the compact docstring.)
    """
    version = _read_pointer(path, spark)
    if version is not None:
        return os.path.join(path, _VERSIONS_DIR, version)
    return path


def _path_scheme(path: str) -> str | None:
    """URI scheme of ``path`` (``file``, ``s3a``, ``hdfs``, ...), or
    None for a scheme-less path."""
    import re

    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*):", path)
    return m.group(1).lower() if m else None


def _use_local_fs(path: str, spark) -> bool:
    """Dispatch the pointer protocol on the path's SCHEME, never by
    probing the driver's local disk: when the session's default FS is
    remote (HDFS/S3), a same-named directory that happens to exist on
    the driver's local disk must NOT capture the pointer read/commit —
    that would resolve the manifest against the wrong filesystem and
    silently see no manifest. Scheme-less paths follow
    ``fs.defaultFS`` (the same rule Spark itself applies); an explicit
    ``file:`` URI goes through the Hadoop FileSystem when a session is
    available (same bytes, and it keeps the Hadoop branch exercised by
    the local twin tests), plain Python I/O otherwise.

    A remote-scheme path with NO session raises immediately: the only
    way to reach that filesystem is through the session's Hadoop
    FileSystem, and falling through would crash later with an opaque
    AttributeError inside :func:`_hadoop_fs` (or, worse for a reader,
    look like "no pointer here")."""
    scheme = _path_scheme(path)
    if scheme is None:
        if spark is None:
            return True
        default = spark._jsc.hadoopConfiguration().get(
            "fs.defaultFS", "file:///"
        )
        return default.startswith("file:")
    if scheme == "file":
        return spark is None
    if spark is None:
        raise ValueError(
            f"spark session required for non-local path {path!r}: the "
            f"{scheme}:// filesystem is only reachable through the "
            "session's Hadoop FileSystem"
        )
    return False


def _strip_file_scheme(path: str) -> str:
    """``file:``-URI → plain local path (for the no-session fallback)."""
    if path.startswith("file://"):
        rest = path[len("file://"):]
        return rest if rest.startswith("/") else "/" + rest
    if path.startswith("file:"):
        return path[len("file:"):]
    return path


def _read_pointer(path: str, spark=None) -> str | None:
    """The manifest pointer's content (live version name), or None for
    a flat/never-compacted table. Scheme-dispatched: local Python I/O
    for local paths, the Hadoop FileSystem for everything else (see
    :func:`_use_local_fs`).

    A BLANK pointer reads as None, never as an empty version name: an
    empty ``_CURRENT`` is a mid-commit or crashed-commit state, and an
    empty version would make :func:`resolve_clustered_table` return
    ``<path>/_versions/`` — the union of EVERY unit (silent duplicate
    rows). None instead resolves to the (empty) root, so every
    downstream read fails loudly."""
    pointer = os.path.join(path, _VERSIONS_DIR, _CURRENT_POINTER)
    version = None
    if _use_local_fs(path, spark):
        local = _strip_file_scheme(pointer)
        if os.path.isfile(local):
            with open(local) as f:
                version = f.read().strip()
    else:
        fs, jpointer = _hadoop_fs(spark, pointer)
        if fs.exists(jpointer):
            stream = fs.open(jpointer)
            try:
                version = spark._jvm.org.apache.commons.io.IOUtils.toString(
                    stream, "UTF-8"
                ).strip()
            finally:
                stream.close()
    return version or None


def _commit_pointer(versions_root: str, version: str, spark) -> None:
    """Make ``version`` the live unit via one small-file update. Local
    filesystems: write-tmp + ``os.replace`` (atomic on POSIX, no
    partial or empty state ever visible). Non-local schemes: a
    single-object overwrite through the Hadoop FileSystem — on
    S3-class stores one small PUT, atomic per object (readers see the
    old or the new pointer, never a partial one). On HDFS,
    create(overwrite) is NOT a single atomic PUT: a reader racing the
    commit can observe an empty or partial ``_CURRENT`` — which
    :func:`_read_pointer`'s blank-as-None rule and the
    nonexistent-unit read turn into a LOUD transient failure (retry),
    never a silent multi-unit read."""
    pointer = os.path.join(versions_root, _CURRENT_POINTER)
    if _use_local_fs(versions_root, spark):
        local = _strip_file_scheme(pointer)
        tmp_pointer = local + ".tmp"
        with open(tmp_pointer, "w") as f:
            f.write(version)
        os.replace(tmp_pointer, local)
        return
    fs, jpointer = _hadoop_fs(spark, pointer)
    stream = fs.create(jpointer, True)
    try:
        stream.write(bytearray(version.encode("utf-8")))
    finally:
        stream.close()


def _delete_tree(p: str, spark) -> None:
    """Best-effort recursive delete, scheme-portable."""
    if _use_local_fs(p, spark):
        import shutil

        local = _strip_file_scheme(p)
        if os.path.isdir(local):
            shutil.rmtree(local, ignore_errors=True)
        else:
            try:
                os.remove(local)
            except OSError:
                pass
        return
    try:
        _hadoop_delete(spark, p)
    except Exception:
        pass  # best-effort: an unreferenced unit is inert garbage


def _list_entries(path: str, spark) -> list[str]:
    """Child entry names of ``path``, scheme-portable."""
    if _use_local_fs(path, spark):
        local = _strip_file_scheme(path)
        return os.listdir(local) if os.path.isdir(local) else []
    fs, jp = _hadoop_fs(spark, path)
    if not fs.exists(jp):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jp)]


def read_clustered_table(spark, path: str) -> DataFrame:
    """``spark.read.parquet`` through :func:`resolve_clustered_table`."""
    return spark.read.parquet(resolve_clustered_table(path, spark=spark))


def compact_clustered_table(
    df_or_path,
    cols: Sequence[str],
    bits: int | None = None,
    num_files: int | None = None,
    row_group_bytes: int | None = None,
    compression: str = "zstd",
    curve: str = "morton",
    spark=None,
    keep_versions: int = 1,
) -> dict[str, list[float]]:
    """Re-cluster an incrementally-appended table back to the global
    bound, verify, then commit — the table-level twin of the index
    lifecycles' compact step.

    ``mode="append"`` ingestion pins the kept fraction at the
    per-BATCH tiling bound (measured: 0.270 ten-batch incremental vs
    0.132 global at the ×10 layout — BENCH.md round 12); compaction
    recovers the global bound by re-clustering the merged unit once.
    Verify-then-promote: a full-row multiset fingerprint must match the
    live table BEFORE anything is promoted — a compact must never lose,
    duplicate, or re-type a row.

    The commit is the Delta/Iceberg shape, correct on every store: the
    re-cluster lands in an immutable versioned unit
    ``<path>/_versions/v_NNNNNN`` (underscore-prefixed, so Spark's
    listing never sees it as data), and promotion is ONE small-file
    update of ``<path>/_versions/_CURRENT`` — write-tmp +
    ``os.replace`` on local filesystems (atomic on POSIX), a
    single-object overwrite through the Hadoop FileSystem on non-local
    schemes (on S3-class stores one small PUT, atomic per object). No
    directory is ever renamed, so promotion stays O(1) on stores where
    a directory rename is a per-object copy. Readers resolve through
    :func:`resolve_clustered_table`. Crash points: before the pointer
    commit the live table is untouched and the half-built version dir
    is overwritten by the retried compact (the version number is
    recomputed from the pointer); after the commit the new unit is
    live and everything the pointer doesn't name — prior units, stale
    flat files in the root — is unreferenced garbage, removed
    best-effort last AND re-swept by every later compact, so a crash
    inside the cleanup window costs temporary storage, never
    correctness.

    **Reader retention window** (``keep_versions``): cleanup keeps the
    ``keep_versions`` most recently RETIRED versioned units (default 1
    — the immediately-previous unit), so a reader that resolved the old
    pointer just before the commit can finish its scan — the same
    retired-snapshot grace Delta/Iceberg give in-flight readers, with
    :func:`vacuum_clustered_table` as the separate explicit vacuum. The
    boundary: a reader is safe while its resolved unit is within the
    newest ``keep_versions`` retired units — with the default, any scan
    that outlives ONE further compact loses its files (loudly,
    mid-collect — never silently wrong). Two deliberate edges:
    ``keep_versions=0`` restores eager cleanup for single-runner
    deployments that never overlap reads with compacts, and the FIRST
    compact's sweep of the pre-manifest flat root files is always eager
    regardless — the blank-pointer hardening requires the root to hold
    no data (a crashed commit resolves there and must fail loudly,
    never serve a stale flat copy), so readers of the not-yet-converted
    flat state get no grace; convert during a quiet window.

    Accepts a path (str); ``spark`` is required then. ``bits=None``
    law-sizes the re-clustered geometry (see :func:`zorder_layout`).
    At 100 TB you compact the k oldest batches into one unit on
    whatever cadence the measured incremental-vs-global gap justifies
    — the same amortization argument as the LSH index compaction.
    """
    if not isinstance(df_or_path, str):
        raise ValueError(
            "compact_clustered_table takes the table PATH (the commit "
            "writes a versioned unit under it; a DataFrame has no "
            "directory)"
        )
    path = df_or_path
    if spark is None:
        raise ValueError("spark session required when passing a path")
    # ONE pointer read feeds both the live snapshot and the next version
    # number — two reads could straddle a concurrent commit and number
    # the new unit against a different state than the one
    # fingerprint-verified
    current = _read_pointer(path, spark)
    live_dir = (os.path.join(path, _VERSIONS_DIR, current)
                if current else path)
    live = spark.read.parquet(live_dir)
    versions_root = os.path.join(path, _VERSIONS_DIR)
    next_n = (int(current.split("_")[1]) + 1) if current else 1
    next_version = f"v_{next_n:06d}"
    target = os.path.join(versions_root, next_version)
    edges = zorder_layout(
        live, cols, target, bits=bits, num_files=num_files,
        row_group_bytes=row_group_bytes, compression=compression,
        curve=curve,
    )
    if (_multiset_fingerprint(spark.read.parquet(target))
            != _multiset_fingerprint(live)):
        raise RuntimeError(
            f"compact of {path} changed the row multiset; {target} "
            f"kept for inspection, live pointer untouched"
        )
    _commit_pointer(versions_root, next_version, spark)
    # everything the pointer doesn't name is now unreferenced — remove
    # best-effort, EXCEPT the newest ``keep_versions`` retired units (the
    # in-flight-reader grace window; see docstring). Re-swept by every
    # later compact, so a crash between a past commit and its cleanup
    # cannot strand a stale shadow copy forever. Stale flat DATA files
    # in the root are always swept eagerly (see _retired_units: the
    # blank-pointer hardening needs an empty root), and only
    # parquet-looking root entries are: caller sidecars stored next to
    # the data (edge snapshots, markers — the zorder_layout docstring
    # invites them) are not data and are left alone.
    for unit in _retired_units(path, next_version, spark)[
        max(0, int(keep_versions)):
    ]:
        _delete_tree(unit, spark)
    for entry in _list_entries(path, spark):
        if entry != _VERSIONS_DIR and entry.endswith(".parquet"):
            _delete_tree(os.path.join(path, entry), spark)
    return edges


def _multiset_fingerprint(d: DataFrame):
    """Order-insensitive multiset fingerprint that stays a ONE-ROW
    collect at any scale: row count plus two independent wrapped hash
    sums (decimal(38) so 100-TB row counts cannot overflow the sum
    itself). An engine bug that drops, duplicates, or rewrites rows
    moves at least one of the three."""
    j = F.to_json(F.struct(*sorted(d.columns)))
    return d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(j).cast("decimal(38,0)")).alias("s1"),
        F.sum(F.xxhash64(j, F.lit("salt")).cast("decimal(38,0)")).alias("s2"),
    ).collect()[0]


def _retired_units(path: str, live_version: str, spark) -> list[str]:
    """Paths of the retired versioned units of a manifest table, NEWEST
    first (descending version number, live unit excluded). The
    retention slice ``[keep_versions:]`` over this list grants the
    in-flight-reader grace window to the most recently retired units.

    Deliberately EXCLUDES the pre-manifest flat root files: those are
    always swept eagerly, because the blank-pointer hardening depends
    on it — a crashed later commit reads as no-pointer and resolves to
    the ROOT, which must then hold no data so the read fails loudly;
    a retained flat generation there would be served as silently-stale
    data instead. The first compact therefore gives no grace to
    readers of the pre-manifest flat state — convert during a quiet
    window (the same boundary as Delta's CONVERT)."""
    versions_root = os.path.join(path, _VERSIONS_DIR)
    return [
        os.path.join(versions_root, e)
        for e in sorted(
            (
                e
                for e in _list_entries(versions_root, spark)
                if e.startswith("v_") and e != live_version
            ),
            key=lambda e: int(e.split("_")[1]),
            reverse=True,
        )
    ]


def vacuum_clustered_table(path: str, spark, keep_versions: int = 0) -> list[str]:
    """Explicitly remove retired generations a compact's retention
    window kept (the separate-vacuum half of the Delta/Iceberg shape:
    ``compact_clustered_table(keep_versions=1)`` leaves the previous
    unit for in-flight readers; this call reclaims it once no reader
    can still hold it — a boundary only the DEPLOYMENT knows, which is
    why vacuum is explicit and never implied by a compact).

    ``keep_versions`` has the same meaning as on the compact (0 here:
    remove every retired generation). No-op on a never-manifest-
    compacted table. Returns the paths removed."""
    current = _read_pointer(path, spark)
    if current is None:
        return []
    removed: list[str] = []
    for unit in _retired_units(path, current, spark)[
        max(0, int(keep_versions)):
    ]:
        _delete_tree(unit, spark)
        removed.append(unit)
    return removed


def _rename(src: str, dst: str, spark) -> None:
    """Directory rename, scheme-portable (atomic on POSIX/HDFS; on
    object stores a per-object copy) — used only to move a failed
    fold's output aside as evidence (compact_ingest_units)."""
    if _use_local_fs(src, spark):
        os.rename(_strip_file_scheme(src), _strip_file_scheme(dst))
        return
    fs, jsrc = _hadoop_fs(spark, src)
    if not fs.rename(jsrc, spark._jvm.org.apache.hadoop.fs.Path(dst)):
        raise IOError(f"rename failed: {src} -> {dst}")


def _ingest_unit_span(name: str) -> tuple[int, int] | None:
    """(lo, hi) batch-id span of an ingest unit directory name:
    ``batch=<id>`` spans (id, id); a folded ``batch=c<lo>-<hi>`` spans
    its range; anything else is not an ingest unit."""
    if not name.startswith("batch="):
        return None
    val = name[len("batch="):]
    if val.startswith("c") and "-" in val:
        lo, _, hi = val[1:].partition("-")
        try:
            return int(lo), int(hi)
        except ValueError:
            return None
    try:
        return int(val), int(val)
    except ValueError:
        return None


def _is_folded_name(name: str) -> bool:
    """True for a fold-produced ``batch=c<lo>-<hi>`` unit name."""
    return name.startswith("batch=c")


def _ingest_spans(
    lake: str, spark
) -> tuple[dict[str, tuple[int, int]], list[str]]:
    """(committed spans, uncommitted folded names) of the ingest units
    under ``lake``. A plain ``batch=<id>`` unit is always committed
    (the stream's overwrite-by-batch-id replay handles its partial
    states); a folded ``batch=c<lo>-<hi>`` unit counts only once its
    ``_FOLD_COMMITTED`` marker exists — a marker-less folded unit is a
    fold that crashed mid-write (or pre-marker) and must neither be
    read nor retire the originals its range covers. Uncommitted names
    come back span-ordered, separately, for the repair sweep."""
    spans: dict[str, tuple[int, int]] = {}
    uncommitted: list[str] = []
    for e in _list_entries(lake, spark):
        span = _ingest_unit_span(e)
        if span is None:
            continue
        if _is_folded_name(e) and not _exists(
            os.path.join(lake, e, _FOLD_MARKER), spark
        ):
            uncommitted.append(e)
            continue
        spans[e] = span
    uncommitted.sort(key=lambda n: (_ingest_unit_span(n), n))
    return spans, uncommitted


def _subsumed_units(spans: dict[str, tuple[int, int]]) -> list[str]:
    """Units strictly contained in ANOTHER unit's span — the retired
    generation a previous fold left for in-flight readers, plus any
    crash leftovers (same sweep covers both). Dict-deduped: after two
    crashed folds a unit can sit inside two ranges at once and must
    still appear exactly once. Span-ordered (listing order is
    filesystem-dependent) so repair/report output is deterministic."""
    ordered = sorted(spans.items(), key=lambda kv: (kv[1], kv[0]))
    return list(dict.fromkeys(
        name
        for name, (lo, hi) in ordered
        for other, (olo, ohi) in ordered
        if other != name and olo <= lo and hi <= ohi
        and (ohi - olo) > (hi - lo)
    ))


def resolve_ingest_units(lake: str, spark=None) -> list[str]:
    """LIVE unit paths of a batch-keyed ingest lake — every
    ``batch=<id>`` / ``batch=c<lo>-<hi>`` unit whose span is NOT
    contained in another unit's span. This is the lake's reader
    protocol (the glob-regime twin of :func:`resolve_clustered_table`):
    after a fold, the subsumed originals are RETAINED on disk for
    in-flight readers (see :func:`compact_ingest_units`), so a raw
    ``spark.read.parquet("<lake>/batch=*")`` would double-count them;
    span-filtering here reads exactly one copy in EVERY state the
    single-runner lifecycle can produce — mid-fold, post-fold,
    post-crash — because a folded unit is LIVE only once its
    ``_FOLD_COMMITTED`` marker exists, written strictly after every
    data object: a listing concurrent with a fold's write excludes the
    marker-less partial unit and keeps reading the still-present
    originals; once the marker lands (one small PUT, the commit
    point), the folded unit is complete and the originals drop out by
    span containment. Cheap and read-only: one directory listing, one
    marker-existence probe per folded unit (folded units stay few by
    construction), pure-Python span math — safe to call at reader
    startup with no compactor coordination.
    """
    spans, _ = _ingest_spans(lake, spark)
    dead = set(_subsumed_units(spans))
    return [
        os.path.join(lake, n)
        for n in sorted(spans, key=lambda n: (spans[n][1], spans[n][0]))
        if n not in dead
    ]


def read_ingest_lake(spark, lake: str) -> DataFrame:
    """``spark.read.parquet`` over :func:`resolve_ingest_units` — the
    supported way to read a batch-keyed ingest lake once
    :func:`compact_ingest_units` runs on it (a raw ``batch=*`` glob
    double-counts the retained generation between a fold and the next
    repair). An empty lake fails loudly in the parquet reader rather
    than returning an empty frame."""
    units = resolve_ingest_units(lake, spark)
    if not units:
        raise FileNotFoundError(f"no ingest units under {lake}")
    return spark.read.parquet(*units)


def repair_ingest_units(lake: str, spark=None) -> list[str]:
    """Delete every dead ingest unit — the retired generation (units
    span-contained in a COMMITTED folded unit) and any marker-less
    folded unit (a fold that crashed mid-write or before its commit
    marker; its originals are all still live, so deleting the partial
    is lossless) — and return the deleted unit names. This is the fold's own step 1, exposed so
    callers can reclaim the retained generation's storage early — or
    restore the flat one-copy invariant for legacy ``batch=*`` glob
    readers — without paying for a full fold. Cheap: one listing,
    pure-Python span containment, the deletes. Same single-runner
    convention as the fold (never run concurrently with one); resolver
    readers (:func:`resolve_ingest_units`) that resolved BEFORE the
    previous fold lose their retained files here, exactly like
    outliving ``keep_versions`` in the manifest regime — loudly, never
    silently wrong.

    The returned names are CONFIRMED removed: every delete is
    post-checked with ``_exists`` (``_delete_tree`` is deliberately
    best-effort — rmtree ``ignore_errors`` locally, except-pass via
    Hadoop), so a unit whose delete silently failed is NOT reported as
    reclaimed. Callers that must not tolerate a survivor (the fold —
    re-folding a surviving retired unit would double-count its rows,
    and a surviving marker-less unit could collide with the fold's
    output) compare the fresh listing instead of this return value."""
    spans, uncommitted = _ingest_spans(lake, spark)
    dead = _subsumed_units(spans) + uncommitted
    removed = []
    for name in dead:
        target = os.path.join(lake, name)
        _delete_tree(target, spark)
        if not _exists(target, spark):
            removed.append(name)
    return removed


def compact_ingest_units(
    lake: str,
    cols: Sequence[str],
    spark,
    bits: int | None = None,
    num_files: int | None = None,
    row_group_bytes: int | None = None,
    compression: str = "zstd",
    curve: str = "morton",
    keep_last: int = 1,
) -> dict:
    """Fold the older ``batch=<id>`` units of a batch-keyed ingest lake
    (the ``streaming_clustered_ingest`` layout) into ONE re-clustered
    unit — the ingest-side compactor that keeps the unit count bounded
    while preserving the lake's contracts: readers resolve live units
    through :func:`resolve_ingest_units` / :func:`read_ingest_lake`,
    and the streaming landing stays idempotent (future batch ids are
    monotone, so they can never collide with a folded unit's range
    name).

    Mechanism (verify-then-promote, like every compact here):

    1. REPAIR (:func:`repair_ingest_units`): delete any unit whose
       batch-id span is contained in a committed unit's range — the
       retired generation the PREVIOUS fold left in place — plus any
       marker-less folded unit (a fold that crashed before its commit
       marker; lossless to delete, its originals are all still
       live). Repair runs BEFORE candidates are chosen so a retry
       converges instead of re-folding duplicates. Because
       ``_delete_tree`` is best-effort, the fold then re-lists and
       RAISES if any dead unit survived its delete: a surviving
       retired unit re-entering the candidate set would double-count
       its rows into the folded unit (and pass the fingerprint gate,
       which compares the output against the same duplicated union),
       and a surviving marker-less unit could collide with the fold's
       output — a silently failed delete is never re-folded.
    2. Candidates = every live unit except the ``keep_last``
       newest-by-span-end (the hot tail the stream is still near);
       no-op with fewer than 2 candidates. ``keep_last >= 1`` is a
       CORRECTNESS requirement, not a tuning knob, and 0 raises:
       ``foreachBatch`` is at-least-once, so the newest batch id can
       always be re-landed by a replay — if its (possibly partial)
       first copy were folded into a range, the next repair would
       delete the fully-replayed unit as "contained" and permanently
       lose the rows the partial copy was missing.
    3. One ``zorder_layout`` over the union of candidate units,
       reusing the lake's persisted edge snapshot when present so the
       folded unit stays in the SAME key space as the stream's
       appends, written STRAIGHT to ``batch=c<lo>-<hi>`` — no staging
       directory and no rename, so no per-object copy on any store.
       The in-progress write is invisible through the supported read
       path for the reason step 4 gives: a folded unit without its
       ``_FOLD_COMMITTED`` marker does not exist as far as the resolver
       and the repair sweep are concerned (only a raw ``batch=*`` glob
       could see it mid-write, and glob reads are documented as valid
       only on never-folded lakes). The multiset fingerprint must equal
       the candidates' union BEFORE the marker lands.

       On a fingerprint mismatch the written output is renamed to
       ``<lake>/.fold_failed`` (replacing any earlier failure) so a
       routine retry's step-1 sweep cannot clobber the evidence, and
       the call raises with the originals untouched. If that
       evidence-preserving move itself fails, the ORIGINAL diagnostic
       still raises (noting that the output stayed where it was
       written and the next repair sweep will delete it).
    4. Commit: the ``_FOLD_COMMITTED`` marker is written INSIDE the
       folded unit — strictly after every data object — as the COMMIT
       POINT (one small PUT, atomic per object on every store). A
       folded unit without its marker is invisible to the resolver and
       deleted by the next repair, so no reader can observe a partial
       folded unit on any store. The subsumed
       units are RETAINED in place as the retired generation — deleted
       by the NEXT fold's repair pass (or an explicit
       :func:`repair_ingest_units`), never by this one. That is the
       same one-generation reader grace the manifest compact gives
       (``compact_clustered_table`` ``keep_versions``): a reader that
       resolved its unit list just before the commit keeps every
       listed file alive until the next fold, and a resolver reader
       listing at ANY point sees exactly one copy of every row — there
       is no crash window between commit and delete because there is
       no delete. Cost: one retained extra copy of the folded span
       until the next fold/repair. A raw ``batch=*`` glob, by contrast,
       double-counts the retained generation — glob reads are only
       valid on a never-folded lake.

    Single-runner assumption as repo-wide: one compactor at a time
    (the stream itself never touches folded names).

    Returns ``{"folded": n_units, "unit": name_or_None,
    "edges": edges_or_None, "repaired": [names...],
    "retired": [names...]}`` — ``repaired`` is what step 1 deleted,
    ``retired`` the units this fold subsumed and left for the next
    sweep.
    """
    if int(keep_last) < 1:
        raise ValueError(
            f"keep_last must be >= 1 (got {keep_last}): the newest "
            "batch id can always be re-landed by an at-least-once "
            "replay, and folding a partial first copy would make the "
            "next repair delete the fully-replayed unit as contained — "
            "permanent row loss, not a performance trade"
        )
    repaired = repair_ingest_units(lake, spark)
    spans, uncommitted = _ingest_spans(lake, spark)
    # _delete_tree is best-effort: a dead unit that survived repair's
    # delete would re-enter the candidate union and double-count its
    # rows past the fingerprint gate (which compares the output against
    # the same duplicated union), or collide with the fold's output.
    # Never re-fold a silently failed delete — fail loudly instead.
    leftover = sorted(set(_subsumed_units(spans)) | set(uncommitted))
    if leftover:
        raise RuntimeError(
            f"repair left dead ingest units under {lake}: {leftover} — "
            "a delete silently failed, and folding over a surviving "
            "retired unit would permanently duplicate its rows. Fix "
            "the store (permissions/consistency) and re-run "
            "repair_ingest_units; no data was written"
        )

    ordered = sorted(spans, key=lambda n: spans[n][1])
    candidates = ordered[: max(0, len(ordered) - int(keep_last))]
    if len(candidates) < 2:
        return {"folded": 0, "unit": None, "edges": None,
                "repaired": repaired, "retired": []}
    lo = min(spans[n][0] for n in candidates)
    hi = max(spans[n][1] for n in candidates)
    union = spark.read.parquet(
        *[os.path.join(lake, n) for n in candidates]
    )
    folded_name = f"batch=c{lo}-{hi}"
    # written straight to the final name — marker-less, so invisible to
    # the resolver until the commit point lands (step 3)
    unit = os.path.join(lake, folded_name)
    edges = zorder_layout(
        union, list(cols), unit, bits=bits, num_files=num_files,
        row_group_bytes=row_group_bytes, compression=compression,
        curve=curve, edges=load_edge_snapshot(lake, spark),
    )
    if (_multiset_fingerprint(spark.read.parquet(unit))
            != _multiset_fingerprint(union)):
        failed = os.path.join(lake, ".fold_failed")
        preserved = True
        try:
            _delete_tree(failed, spark)
            if _exists(failed, spark):
                raise OSError(f"earlier failure at {failed} not clearable")
            _rename(unit, failed, spark)
        except Exception:
            # never mask the diagnostic below with a secondary failure
            # of the evidence-preserving move itself
            preserved = False
        note = (
            f"output kept for inspection at {failed} (replaces any "
            "earlier failure; repair never touches it)"
            if preserved else
            f"moving the output from {unit} to {failed} FAILED — "
            "it remains where it was written and the NEXT repair sweep "
            "will delete it; inspect before re-running"
        )
        raise RuntimeError(
            f"ingest fold of {lake} changed the row multiset; {note}; "
            "original units untouched"
        )
    # the commit point: one small PUT strictly after every data object
    # (see step 4 above) — before this lands the folded unit does not
    # exist as far as the resolver and the next repair are concerned
    import json

    _write_small_file(
        os.path.join(unit, _FOLD_MARKER),
        json.dumps({"folded": list(candidates), "lo": lo, "hi": hi}),
        spark,
    )
    return {"folded": len(candidates), "unit": folded_name,
            "edges": edges, "repaired": repaired,
            "retired": list(candidates)}


def layout_scan_fraction(
    path: str,
    predicate: dict[str, tuple],
) -> dict[str, float | int]:
    """Deterministic row-group keep/skip geometry for a box predicate.

    Reads only parquet footers under ``path`` (pyarrow, driver-side —
    the same metadata a Spark scan task consults) and counts row groups
    whose per-column ``[min, max]`` intersect every ``col: (lo, hi)``
    interval (``None`` bound = unbounded; intervals are inclusive, the
    conservative reading a min/max pruner must use). Row groups missing
    stats for a predicate column are conservatively kept — exactly the
    parquet reader's behavior.

    Returns ``{"row_groups": total, "row_groups_kept": kept,
    "rows": total_rows, "rows_kept": rows_in_kept_groups,
    "fraction_rows_kept": ...}``. Pure geometry — no timing, no noise;
    this is the number that decides whether a 100-TB scan reads 100 TB
    or 1 TB.

    DATE-typed columns store ``datetime.date`` stats while callers
    naturally write ``datetime``/date bounds interchangeably; both
    sides are normalized to ``datetime`` (midnight) before comparing,
    so mixed date/datetime comparisons can't raise.
    """
    import datetime as _dt

    import pyarrow.parquet as pq

    def _norm(v):
        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            return _dt.datetime.combine(v, _dt.time.min)
        return v

    # manifest tables measure their LIVE unit; hidden (_/.-prefixed)
    # entries are pruned from the walk exactly as Spark's file listing
    # prunes them, so versioned/retired units never double-count
    path = resolve_clustered_table(path)
    files = []
    if os.path.isdir(path):
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            files.extend(
                os.path.join(root, n)
                for n in names
                if n.endswith(".parquet") and not n.startswith(("_", "."))
            )
    else:
        files = [path]
    total_groups = kept_groups = 0
    total_rows = kept_rows = 0
    for f in sorted(files):
        meta = pq.ParquetFile(f).metadata
        name_to_idx = {
            meta.row_group(0).column(i).path_in_schema: i
            for i in range(meta.num_columns)
        } if meta.num_row_groups else {}
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            total_groups += 1
            total_rows += rg.num_rows
            keep = True
            for col, (lo, hi) in predicate.items():
                idx = name_to_idx.get(col)
                if idx is None:
                    raise KeyError(f"predicate column {col!r} not in {f}")
                stats = rg.column(idx).statistics
                if stats is None or not stats.has_min_max:
                    continue  # conservative keep
                if lo is not None and _norm(stats.max) < _norm(lo):
                    keep = False
                    break
                if hi is not None and _norm(stats.min) > _norm(hi):
                    keep = False
                    break
            if keep:
                kept_groups += 1
                kept_rows += rg.num_rows
    return {
        "row_groups": total_groups,
        "row_groups_kept": kept_groups,
        "rows": total_rows,
        "rows_kept": kept_rows,
        "fraction_rows_kept": (kept_rows / total_rows) if total_rows else 0.0,
    }

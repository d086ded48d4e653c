"""Property-based tests (hypothesis) for the numerically-subtle pieces.

Spark-free where possible (pure helpers run thousands of cases); the
windowed-mean property samples fewer cases because each runs a Spark
job.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aind_protein_data_transformation_spark.arraylib import blocks, ome

dims = st.integers(min_value=1, max_value=64)


@given(
    shape=st.tuples(dims, dims, dims),
    chunk_frac=st.tuples(
        st.floats(0.1, 1.0), st.floats(0.1, 1.0), st.floats(0.1, 1.0)
    ),
    target=st.integers(min_value=1, max_value=1 << 22),
    itemsize=st.sampled_from([1, 2, 4, 8]),
    mode=st.sampled_from(["iso", "cycle"]),
)
@settings(max_examples=300, deadline=None)
def test_expand_chunks_invariants(shape, chunk_frac, target, itemsize, mode):
    chunks = tuple(max(1, int(s * f)) for s, f in zip(shape, chunk_frac))
    out = blocks.expand_chunks(chunks, shape, target, itemsize, mode)
    # never exceeds the data shape, never shrinks below the base chunk
    assert all(o <= s for o, s in zip(out, shape))
    assert all(o >= c for o, c in zip(out, chunks))
    if mode == "iso":
        # uniform multiple of the base chunk (pre-clamp)
        ratios = {
            math.ceil(o / c) for o, c, s in zip(out, chunks, shape) if o < s
        }
        assert len(ratios) <= 1
    else:
        # each dim is chunk * 2^k (pre-clamp)
        for o, c, s in zip(out, chunks, shape):
            if o < s:
                assert o % c == 0 and (o // c) & ((o // c) - 1) == 0


@given(
    shape=st.tuples(dims, dims, dims),
    block_frac=st.tuples(
        st.floats(0.05, 1.5), st.floats(0.05, 1.5), st.floats(0.05, 1.5)
    ),
)
@settings(max_examples=200, deadline=None)
def test_gen_block_ranges_tiles_exactly(shape, block_frac):
    block = tuple(max(1, min(int(s * f), s)) for s, f in zip(shape, block_frac))
    ranges = list(blocks.gen_block_ranges(shape, block))
    # coverage: total volume equals the array volume, no overlaps
    vol = sum(math.prod(hi - lo for lo, hi in r) for r in ranges)
    assert vol == math.prod(shape)
    n_expected = math.prod(-(-s // b) for s, b in zip(shape, block))
    assert len(ranges) == n_expected
    # all ranges in-bounds and non-empty
    for r in ranges:
        for (lo, hi), s in zip(r, shape):
            assert 0 <= lo < hi <= s


@given(
    z=st.integers(1, 10_000),
    f=st.integers(2, 7),
    levels=st.integers(1, 8),
)
@settings(max_examples=300, deadline=None)
def test_level_shape_matches_iterated_recurrence(z, f, levels):
    iterated = z
    for _ in range(levels):
        iterated = -(-iterated // f)
    closed = ome.level_shape((1, 1, z, z, z), (f, f, f), levels)[2]
    assert closed == iterated


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_windowed_mean_matches_numpy_random(spark, seed):
    from tests.test_arraylib import df_to_array, np_windowed_mean, voxels_df
    from aind_protein_data_transformation_spark.arraylib import pyramid

    rng = np.random.default_rng(seed)
    shape = tuple(rng.integers(1, 6, size=5))
    factors = (1, 1, *rng.integers(1, 4, size=3))
    arr = rng.integers(0, 65535, size=shape).astype(np.uint16)
    golden = np_windowed_mean(arr, factors)
    got = pyramid.downsample_once(voxels_df(spark, arr), scale_factor=factors[2:])
    np.testing.assert_array_equal(
        df_to_array(got, golden.shape), golden.astype(np.float64)
    )


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vals=st.lists(st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=120),
    nparts=st.integers(min_value=1, max_value=9),
)
def test_partitioned_prefix_sum_property(spark, vals, nparts):
    """Two-phase distributed prefix sum == serial cumulative sum, for
    any values (incl. negatives) and any partition count."""
    from aind_protein_data_transformation_spark.operators.prefix import (
        partitioned_prefix_sum,
    )

    df = spark.createDataFrame(list(enumerate(vals)), "k long, v long")
    got = {
        r.k: r.ps
        for r in partitioned_prefix_sum(
            df, "k", "v", "ps", num_partitions=nparts
        ).collect()
    }
    acc, want = 0, {}
    for k, v in enumerate(vals):
        acc += v
        want[k] = acc
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_asof_join_matches_bruteforce(spark, data):
    """asof_join == brute force per left row: the right row with the
    greatest time <= left time within the key, ties inclusive (DuckDB
    ASOF semantics), 'left' keeping unmatched rows."""
    from aind_protein_data_transformation_spark.operators.asof import asof_join

    keys = st.integers(min_value=0, max_value=3)
    times = st.integers(min_value=0, max_value=20)
    left = data.draw(
        st.lists(st.tuples(keys, times), min_size=1, max_size=25), label="left"
    )
    right = data.draw(
        st.lists(st.tuples(keys, times), min_size=0, max_size=25), label="right"
    )
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid long, k long, t long"
    )
    rdf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(right)], "rid long, k long, rt long"
    )
    got = {
        r.lid: (r.asof_rid, r.asof_rt)
        for r in asof_join(
            ldf, rdf, on="k", left_time="t", right_time="rt",
            right_values=["rid", "rt"], how="left",
        ).collect()
    }
    assert set(got) == set(range(len(left)))
    for lid, (k, t) in enumerate(left):
        cands = [(rt, rid) for rid, (rk, rt) in enumerate(right) if rk == k and rt <= t]
        if cands:
            # greatest time; among equal times the implementation carries
            # the LAST right row in (time, input-order) — pin max time
            # and verify the returned rid is one of the max-time rows
            best_t = max(rt for rt, _ in cands)
            best_ids = {rid for rt, rid in cands if rt == best_t}
            assert got[lid][1] == best_t, (lid, got[lid], cands)
            assert got[lid][0] in best_ids
        else:
            assert got[lid] == (None, None)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_asof_join_banded_matches_plain(spark, data):
    """The skew-resistant banded as-of must equal the plain union-sort
    as-of for ANY band width — including widths that put everything in
    one band (degenerates to plain) and width 1 (every timestamp its
    own band, answers come mostly from the spine carry). Right times
    are drawn unique per key so the tie order both forms share is
    fully determined."""
    from aind_protein_data_transformation_spark.operators.asof import (
        asof_join,
        asof_join_banded,
    )

    keys = st.integers(min_value=0, max_value=3)
    times = st.integers(min_value=0, max_value=40)
    left = data.draw(
        st.lists(st.tuples(keys, times), min_size=1, max_size=25), label="left"
    )
    right_pairs = data.draw(
        st.lists(st.tuples(keys, times), min_size=0, max_size=25, unique=True),
        label="right",
    )
    band_width = data.draw(st.sampled_from([1, 3, 7, 100]), label="band_width")
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid long, k long, t long"
    )
    rdf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(right_pairs)],
        "rid long, k long, rt long",
    )
    kwargs = dict(
        on="k", left_time="t", right_time="rt",
        right_values=["rid", "rt"], how="left",
    )
    plain = {
        r.lid: (r.asof_rid, r.asof_rt)
        for r in asof_join(ldf, rdf, **kwargs).collect()
    }
    banded = {
        r.lid: (r.asof_rid, r.asof_rt)
        for r in asof_join_banded(ldf, rdf, band_width=band_width, **kwargs).collect()
    }
    assert banded == plain


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_rank_select_percentiles_match_duckdb_on_random_data(spark, data):
    """multi_column_percentiles_rank_select == DuckDB quantile_cont
    bit-for-bit on RANDOM grouped data: duplicates, negatives, nulls,
    single-row groups, and groups spanning very different value ranges
    (which stresses the shared global bucket bounds)."""
    import duckdb

    from aind_protein_data_transformation_spark.operators.percentile import (
        multi_column_percentiles_rank_select,
    )

    rows = data.draw(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=3),
                st.one_of(
                    st.none(),
                    st.integers(min_value=-1000, max_value=1000),
                    st.integers(min_value=900000, max_value=901000),
                ),
            ),
            min_size=1,
            max_size=80,
        ),
        label="rows",
    )
    # every group needs >=1 non-null value for quantile_cont to emit it
    if not any(v is not None for _, v in rows):
        rows.append((0, 0))
    df = spark.createDataFrame(
        [(g, float(v) if v is not None else None) for g, v in rows],
        "g long, x double",
    )
    got = {
        r.g: (r.p25, r.p50, r.p90)
        for r in multi_column_percentiles_rank_select(
            df, ["g"], {"x": [(0.25, "p25"), (0.5, "p50"), (0.9, "p90")]},
            octave_subdivisions=2,  # coarse buckets: force multi-row phase-2 sorts
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = {
        g: (p25, p50, p90)
        for g, p25, p50, p90 in con.execute(
            """
            SELECT g, quantile_cont(x, 0.25), quantile_cont(x, 0.5),
                   quantile_cont(x, 0.9)
            FROM t WHERE x IS NOT NULL GROUP BY g
            """
        ).fetchall()
    }
    assert got == want


@given(
    n=st.integers(min_value=1, max_value=257),
    k=st.sampled_from([2, 3, 7, 10]),
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_ntile_closed_form_matches_native(spark, n, k):
    """The rank->bucket closed form (operators/prefix.ntile_from_rank_sql,
    the scale-safe replacement for the unpartitioned NTILE window) must
    reproduce Spark's native NTILE exactly — including the uneven-split
    rule when n % k != 0 — for every (n, k)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from aind_protein_data_transformation_spark.operators.prefix import ntile_from_rank_sql

    df = spark.range(1, n + 1).withColumnRenamed("id", "v")
    w = Window.orderBy("v")
    got = (
        df.select(
            "v",
            F.ntile(k).over(w).alias("native"),
            F.row_number().over(w).alias("_rank"),
        )
        .withColumn("_n", F.lit(n))
        .selectExpr("v", "native", f"{ntile_from_rank_sql(k)} AS closed")
        .collect()
    )
    for r in got:
        assert r.native == r.closed, (n, k, r.v, r.native, r.closed)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=4,
            max_size=4,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_quantize_kernel_bit_identical_property(spark, vecs):
    """Fuzzed bit-identity across the quantize dispatch boundary: for
    ANY float32 vectors (including zero vectors and huge/tiny
    magnitudes), the Arrow kernel and the HOF projection agree on every
    output bit — the guarantee that lets quantize_int8_auto dispatch by
    cost alone. Fixed dim (the embeddings-table contract); magnitudes
    and signs fuzzed."""
    from aind_protein_data_transformation_spark.operators.similarity import (
        quantize_int8_batch,
        quantize_int8_hof,
    )

    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    hof = {
        r.vec_id: (r.qscale, r.n_saturated, r.recon_mse)
        for r in quantize_int8_hof(emb).collect()
    }
    kern = {
        r.vec_id: (r.qscale, r.n_saturated, r.recon_mse)
        for r in quantize_int8_batch(emb).collect()
    }
    assert kern == hof


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pairs=st.lists(
        st.tuples(
            st.lists(
                st.floats(
                    min_value=-1e4,
                    max_value=1e4,
                    allow_nan=False,
                    allow_infinity=False,
                    width=32,
                ),
                min_size=4,
                max_size=4,
            ),
            st.lists(
                st.floats(
                    min_value=-1e4,
                    max_value=1e4,
                    allow_nan=False,
                    allow_infinity=False,
                    width=32,
                ),
                min_size=4,
                max_size=4,
            ),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_pair_cosine_batch_matches_fold_property(spark, pairs):
    """Fuzzed agreement for the ivf verify-stage twins: the Arrow
    einsum cosine (NaN->null mapped) equals the try_divide fold within
    BLAS-vs-fold tolerance on every pair, and BOTH yield null exactly
    when a side has zero norm — the ranking-semantics contract the
    verify_batch dispatch relies on."""
    import math

    from pyspark.sql import functions as F

    from aind_protein_data_transformation_spark.functions.vector import dot, norm
    from aind_protein_data_transformation_spark.operators.similarity import (
        pair_cosine_batch_col,
    )

    df = spark.createDataFrame(
        [
            (i, [float(x) for x in a], [float(y) for y in b])
            for i, (a, b) in enumerate(pairs)
        ],
        "pair_id bigint, qe array<float>, ce array<float>",
    )
    fold = {
        r.pair_id: r.c
        for r in df.select(
            "pair_id",
            F.try_divide(dot("qe", "ce"), norm("qe") * norm("ce")).alias("c"),
        ).collect()
    }
    udf = {
        r.pair_id: r.c
        for r in df.select(
            "pair_id", pair_cosine_batch_col()(F.col("qe"), F.col("ce")).alias("_r")
        )
        .selectExpr("pair_id", "IF(isnan(_r), CAST(NULL AS DOUBLE), _r) AS c")
        .collect()
    }
    assert set(udf) == set(fold)
    for k, fv in fold.items():
        uv = udf[k]
        if fv is None:
            assert uv is None, f"pair {k}: fold null, udf {uv}"
        else:
            assert uv is not None, f"pair {k}: udf null, fold {fv}"
            assert math.isclose(uv, fv, rel_tol=1e-9, abs_tol=1e-12), (k, uv, fv)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=4,
            max_size=4,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_srp_band_vals_gemm_matches_fold_property(spark, vecs):
    """Fuzzed agreement for the SRP signer twins: for ANY float32
    vectors away from the sign knife edge, the one-matmul GEMM signer
    and the oracle-parity fold produce IDENTICAL band values; zero
    vectors stay in (both forms emit all-zero bands by contract).
    Knife-edge inputs — a hyperplane projection balanced within float
    rounding of zero, where fold-vs-BLAS low-bit order can legitimately
    flip the sign — are assumed away, exactly the scope the module
    docstring claims (real embeddings sit far from the edge)."""
    from hypothesis import assume

    from aind_protein_data_transformation_spark.operators.similarity import (
        srp_band_vals,
        srp_band_vals_gemm,
        srp_weight_matrix,
    )

    m = np.array(vecs, dtype=np.float32).astype(np.float64)
    w = srp_weight_matrix(32, 4)
    norms = np.linalg.norm(m, axis=1)
    nz = norms > 0
    if nz.any():
        en = m[nz] / norms[nz][:, None]
        proj = en @ w.T
        assume(float(np.abs(proj).min()) > 1e-9)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    fold = {r.vec_id: list(r.band_vals) for r in srp_band_vals(emb).collect()}
    gemm = {
        r.vec_id: list(r.band_vals) for r in srp_band_vals_gemm(emb).collect()
    }
    assert gemm == fold
    # zero vectors really do come out all-zero bands on both paths
    for i in np.where(~nz)[0]:
        assert fold[int(i)] == [0, 0, 0, 0], fold[int(i)]


# -------------------------------------------- simhash chunk geometry (r10)

@given(data=st.data())
@settings(max_examples=300)
def test_simhash_pigeonhole_guarantee_for_any_valid_geometry(data):
    """The blocking's entire recall argument, for EVERY geometry the
    round-10 parametrization admits: two hashes within hamming
    n_chunks - 1 of each other MUST agree on at least one w-bit chunk
    (w = bits / n_chunks), because n_chunks - 1 flipped bits cannot
    touch all n_chunks disjoint chunks. Pure-Python replay of the
    probe's chunk extraction (operators/simhash_index.py _chunk_rows):
    a violation here would mean a probe silently misses a within-radius
    pair no matter what the tables hold."""
    n_chunks = data.draw(st.integers(min_value=2, max_value=12))
    w = data.draw(st.integers(min_value=1, max_value=60 // n_chunks))
    bits = w * n_chunks
    h = data.draw(st.integers(min_value=0, max_value=(1 << bits) - 1))
    n_flips = data.draw(st.integers(min_value=0, max_value=n_chunks - 1))
    flip_positions = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=bits - 1),
            min_size=n_flips,
            max_size=n_flips,
            unique=True,
        )
    )
    g = h
    for p in flip_positions:
        g ^= 1 << p
    assert bin(h ^ g).count("1") <= n_chunks - 1
    mask = (1 << w) - 1
    agreeing = [
        c for c in range(n_chunks) if ((h >> (w * c)) & mask) == ((g >> (w * c)) & mask)
    ]
    assert agreeing, (
        f"pigeonhole violated: bits={bits} n_chunks={n_chunks} "
        f"h={h:#x} g={g:#x}"
    )


@given(data=st.data())
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_assign_buckets_ivf_exhaustive_probe_equals_flat_property(spark, data):
    """Round 12: the hierarchical assignment's correctness anchor as a
    PROPERTY — on arbitrary vector multisets (zero-norm vectors AND
    zero-norm centroids included), probing every coarse bucket makes
    the candidate set the whole live codebook, so the result must equal
    the flat exact assignment row-for-row (same argmax, same
    lowest-centroid-id tie-break, same drop-the-vector behavior when
    every centroid is dead). The approximation at small nprobe comes
    ONLY from probe pruning — this pins everything else."""
    from pyspark.sql import functions as F

    from aind_protein_data_transformation_spark.operators.similarity import (
        assign_buckets,
        assign_buckets_ivf,
    )

    dim = 4
    vec = st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False,
                  allow_infinity=False, width=32),
        min_size=dim, max_size=dim,
    )
    n_vecs = data.draw(st.integers(min_value=1, max_value=12))
    n_cents = data.draw(st.integers(min_value=1, max_value=10))
    vecs = [
        (i, [float(x) for x in data.draw(vec)]) for i in range(n_vecs)
    ]
    # force the zero-norm edges into the search space occasionally
    cents = []
    for j in range(n_cents):
        if data.draw(st.booleans()) and j == 0:
            cents.append((100 + j, [0.0] * dim))
        else:
            cents.append((100 + j, [float(x) for x in data.draw(vec)]))
    corpus = spark.createDataFrame(vecs, "vid long, ve array<double>")
    codebook = spark.createDataFrame(
        cents, "centroid_id long, centroid_vec array<double>"
    )
    flat = {r.vid: r.bucket for r in assign_buckets(corpus, codebook).collect()}
    n_coarse = codebook.filter(
        (F.expr("aggregate(centroid_vec, 0D, (a, x) -> a + x * x)") != 0)
        & (F.pmod(F.xxhash64(F.col("centroid_id")), F.lit(2)) == 0)
    ).count()
    try:
        ivf_rows = assign_buckets_ivf(
            corpus, codebook, coarse_stride=2, nprobe=max(1, n_coarse)
        ).collect()
    except ValueError:
        # live codebook but zero coarse picks for THIS id set — the
        # documented raise; the equality claim is vacuous here
        assert n_coarse == 0
        return
    assert {r.vid: r.bucket for r in ivf_rows} == flat


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_zorder_key_matches_python_twin_property(spark, data):
    """The Morton key built from Spark built-ins (operators/layout.py
    zorder_key — filtered-literal-array bin lookup + shift/and/or
    interleave) equals the obvious python twin on arbitrary values,
    edges, and NULL patterns — including unsorted-duplicate-free edge
    lists of any length that fits the bit budget, NULL values (bin 0),
    and values outside the edge range (clamp to first/last bin)."""
    from aind_protein_data_transformation_spark.operators.layout import zorder_key

    n_cols = data.draw(st.integers(min_value=1, max_value=3))
    bits = data.draw(st.integers(min_value=1, max_value=4))
    finite = st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False)
    edges = {}
    for i in range(n_cols):
        raw = data.draw(st.lists(finite, min_size=0, max_size=(1 << bits) - 1))
        dedup = sorted(set(float(v) for v in raw))
        edges[f"c{i}"] = dedup
    n_rows = data.draw(st.integers(min_value=1, max_value=12))
    rows = [
        tuple(
            data.draw(st.one_of(st.none(), finite)) for _ in range(n_cols)
        )
        for _ in range(n_rows)
    ]
    schema = ", ".join(f"c{i} double" for i in range(n_cols))
    df = spark.createDataFrame(rows, schema)
    got = df.withColumn("k", zorder_key(df, edges, bits=bits)).collect()

    def py_bin(x, es):
        if x is None:
            return 0
        return sum(1 for e in es if e <= x)

    def py_key(vals):
        key = 0
        for i, v in enumerate(vals):
            b = py_bin(v, edges[f"c{i}"])
            for bit in range(bits):
                key |= ((b >> bit) & 1) << (bit * n_cols + i)
        return key

    for r in got:
        vals = [r[f"c{i}"] for i in range(n_cols)]
        assert r.k == py_key(vals), (vals, r.k, py_key(vals))


# --------------------------------------------------------------------
# Ingest-lake fold lifecycle: model-based property over the REAL span
# algebra (layout._ingest_unit_span / _subsumed_units — the functions
# the resolver and repair run). Simulates every reachable lifecycle
# state — land, at-least-once replay of the newest id, committed fold,
# fold crashed before its _FOLD_COMMITTED marker, explicit repair,
# and (round 16) repairs whose best-effort deletes SILENTLY FAIL for
# an arbitrary subset of dead units (the real _delete_tree is
# rmtree(ignore_errors)/except-pass) — and checks the two invariants
# that make the lake correct at any scale: the resolver reads every
# landed row exactly once (no loss, no duplicates), and live unit
# spans are pairwise disjoint. A fold whose own repair left survivors
# REFUSES (mirrors compact_ingest_units' raise): folding over a
# surviving retired unit would double-count its rows.

from aind_protein_data_transformation_spark.operators.layout import (  # noqa: E402
    _ingest_unit_span,
    _is_folded_name,
    _subsumed_units,
)


class _LakeModel:
    """Directory-name-level model of a batch-keyed ingest lake: each
    unit maps to the SET of batch ids whose rows it contains."""

    def __init__(self):
        self.units: dict[str, frozenset[int]] = {}
        self.committed: set[str] = set()
        self.next_id = 0

    def _spans_committed(self):
        return {
            n: _ingest_unit_span(n)
            for n in self.units
            if not _is_folded_name(n) or n in self.committed
        }

    def land(self):
        self.units[f"batch={self.next_id}"] = frozenset({self.next_id})
        self.next_id += 1

    def replay_newest(self):
        # at-least-once foreachBatch: the newest id re-lands, its unit
        # OVERWRITTEN (idempotent landing)
        if self.next_id:
            i = self.next_id - 1
            self.units[f"batch={i}"] = frozenset({i})

    def _dead(self):
        spans = self._spans_committed()
        return set(_subsumed_units(spans)) | {
            n for n in self.units
            if _is_folded_name(n) and n not in self.committed
        }

    def repair(self, fail_salt=None):
        # fail_salt models _delete_tree's silent best-effort failures:
        # a deterministic arbitrary subset of the dead units survives
        # their delete (crc32-keyed so hypothesis shrinks cleanly)
        for n in self._dead():
            if fail_salt is not None and _crc(n, fail_salt) % 2:
                continue  # delete silently failed; unit survives
            del self.units[n]

    def fold(self, keep_last, crash_before_marker, fail_salt=None):
        self.repair(fail_salt)
        if self._dead():
            # compact_ingest_units re-lists and RAISES on any survivor
            # of its repair sweep — nothing is written; model the
            # refusal as a no-op so the invariants are checked on the
            # unchanged lake
            return
        spans = self._spans_committed()
        ordered = sorted(spans, key=lambda n: spans[n][1])
        candidates = ordered[: max(0, len(ordered) - keep_last)]
        if len(candidates) < 2:
            return
        lo = min(spans[n][0] for n in candidates)
        hi = max(spans[n][1] for n in candidates)
        name = f"batch=c{lo}-{hi}"
        assert name not in self.units  # the fold's output cannot collide
        self.units[name] = frozenset().union(
            *(self.units[n] for n in candidates)
        )
        if not crash_before_marker:
            self.committed.add(name)
        # the subsumed candidates are RETAINED (no deletes on fold)

    def resolve(self):
        spans = self._spans_committed()
        dead = set(_subsumed_units(spans))
        return [n for n in spans if n not in dead]


def _crc(name: str, salt: int) -> int:
    import zlib

    return zlib.crc32(f"{salt}:{name}".encode())


_ops = st.lists(
    st.one_of(
        st.just(("land",)),
        st.just(("replay",)),
        st.just(("repair",)),
        st.tuples(
            st.just("repair_flaky"),
            st.integers(min_value=0, max_value=7),
        ),
        st.tuples(
            st.just("fold"),
            st.integers(min_value=1, max_value=3),
            st.booleans(),
        ),
        st.tuples(
            st.just("fold_flaky"),
            st.integers(min_value=1, max_value=3),
            st.booleans(),
            st.integers(min_value=0, max_value=7),
        ),
    ),
    min_size=1,
    max_size=40,
)


@given(ops=_ops)
@settings(max_examples=500, deadline=None)
def test_fold_lifecycle_reads_every_row_exactly_once(ops):
    m = _LakeModel()
    for op in ops:
        if op[0] == "land":
            m.land()
        elif op[0] == "replay":
            m.replay_newest()
        elif op[0] == "repair":
            m.repair()
        elif op[0] == "repair_flaky":
            m.repair(fail_salt=op[1])
        elif op[0] == "fold_flaky":
            m.fold(keep_last=op[1], crash_before_marker=op[2],
                   fail_salt=op[3])
        else:
            m.fold(keep_last=op[1], crash_before_marker=op[2])
        live = m.resolve()
        # exactly-once: live unit contents are disjoint and their union
        # is every id ever landed — in EVERY intermediate state
        seen: set[int] = set()
        for n in live:
            ids = m.units[n]
            assert not (seen & ids), f"duplicate rows via {n}"
            seen |= ids
        assert seen == set(range(m.next_id)), "resolver lost rows"
        # live spans pairwise disjoint (nested-or-disjoint collapses
        # to disjoint once contained units are filtered)
        spans = sorted(_ingest_unit_span(n) for n in live)
        for (alo, ahi), (blo, bhi) in zip(spans, spans[1:]):
            assert ahi < blo, f"overlapping live spans {spans}"

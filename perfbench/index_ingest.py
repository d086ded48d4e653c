"""Workload ``index_ingest``: the minhash dedup-at-ingest index lifecycle.

Over a seeded ``documents`` table (bag-of-words texts, one in twenty a
near-duplicate of another document), one client runs the
``operators.dedup`` lifecycle, each call after the previous one
returned (closed loop):

1. ``write_minhash_index`` over a seeded half of the corpus;
2. for each seeded shard of the rest: ``incremental_minhash_pairs`` (the
   probe; its pairs are returned to the client) then
   ``append_minhash_shard``;
3. ``verify_minhash_index``, ``compact_minhash_index(target=...)`` and
   ``swap_minhash_index``.

The lifecycle repeats, each pass on a new index name, until the run's
seconds are spent (one pass at the benchmark's setting). Checks, outside
the timed calls: every probed pair carries the exact hashed-shingle
every probe returns exactly the pairs a numpy reference of the
program's minhash LSH finds (:class:`Reference`: no pair missing, none
extra, every Jaccard exact), verify comes back clean with the geometry
stamp present, and a fixed shard's probe returns the same pair set
before and after compact + swap. ``run_s`` is the sum of a pass's
calls.
"""

from __future__ import annotations

import hashlib
import os
import re
import time

import numpy as np
import pyarrow.parquet as pq

import datagen
import harness

#: per input size: (documents, shards)
SIZES = {"full": (5000, 2), "small": (300, 1)}
THRESHOLD = 0.4
INDEX = "pb_minhash"
STEPS = ("write", "probe", "append", "verify", "compact", "swap")


def write_index_parts(docs, out_dir: str, seed: int, shards: int) -> dict:
    """Split ``docs`` into the indexed corpus (a seeded ~half) and
    ``shards`` seeded shards of the rest, one parquet file each.
    Returns ``{part: (path, doc_ids)}``."""
    part = np.random.default_rng(seed + 2).integers(0, 2 * shards, docs.num_rows)
    # part < shards: indexed corpus; the rest deals into the shards
    masks = {"corpus": part < shards}
    masks.update({f"shard{i}": part == shards + i for i in range(shards)})
    out = {}
    for name, mask in masks.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(docs.filter(mask), path)
        out[name] = (path, docs.column("doc_id").filter(mask).to_pylist())
    return out


def hashed_shingles(text: str, k: int = 3) -> tuple[int, set[int]]:
    """(distinct shingle count, hashed shingle set) exactly as
    ``dedup.shingle_set`` + ``minhash_signatures`` derive them."""
    toks = [t for t in re.split(r"\s+", text) if t]
    shingles = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
    hashes = {int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 2147483647 for s in shingles}
    return len(shingles), hashes


class Reference:
    """The probe's exact answer, computed in numpy from the texts.

    Every document gets the program's shingle hashes, its 32 minhash
    values (``(a_i * h + b_i) mod P`` minimised, the coefficients from
    ``dedup.minhash_coeffs``) and its 8 band keys. A probe of ``new``
    against an index holding ``indexed`` must return exactly the pairs
    that share a band key and whose Jaccard clears the threshold: no
    pair missing, none extra, every Jaccard exact."""

    def __init__(self, texts: dict[int, str]):
        from aind_protein_data_transformation_spark.operators import dedup

        coeffs = np.array([dedup.minhash_coeffs(i) for i in range(dedup.MINHASH_PERMS)], dtype=np.int64)
        a, b = coeffs[:, :1], coeffs[:, 1:]
        width = dedup.LSH_BAND_SIZE
        self.shingles = {}
        self.bands = {}
        for doc, text in texts.items():
            n, hashes = hashed_shingles(text)
            self.shingles[doc] = (n, hashes)
            if not hashes:
                continue
            m = ((a * np.fromiter(hashes, np.int64) + b) % dedup.MINHASH_PRIME).min(axis=1).tolist()
            self.bands[doc] = [(j, *m[j * width : (j + 1) * width]) for j in range(len(m) // width)]

    def jaccard(self, x: int, y: int) -> float:
        (nx, hx), (ny, hy) = self.shingles[x], self.shingles[y]
        inter = len(hx & hy)
        return inter / (nx + ny - inter)

    def pairs(self, new: list[int], indexed: list[int]) -> dict[tuple[int, int], float]:
        buckets: dict[tuple, list[int]] = {}
        for doc in indexed:
            for key in self.bands.get(doc, ()):
                buckets.setdefault(key, []).append(doc)
        out = {}
        for doc in new:
            cands = {c for key in self.bands.get(doc, ()) for c in buckets.get(key, ())}
            for c in cands:
                jac = self.jaccard(doc, c)
                if jac >= THRESHOLD:
                    out[(doc, c)] = jac
        return out


def check_pairs(pairs, want: dict[tuple[int, int], float], label: str) -> list[str]:
    """Compare a probe's pairs with the reference's: missing, extra and
    wrong-Jaccard pairs are each a problem."""
    got = {
        (new_id, index_id): jac
        for new_id, index_id, jac in pairs[["new_id", "index_id", "jaccard"]].itertuples(index=False, name=None)
    }
    problems = []
    missing = want.keys() - got.keys()
    extra = got.keys() - want.keys()
    if len(got) != len(pairs):
        problems.append(f"{label}: {len(pairs) - len(got)} repeated pairs")
    if missing:
        problems.append(f"{label}: {len(missing)} of {len(want)} pairs missing, e.g. {sorted(missing)[:3]}")
    if extra:
        problems.append(f"{label}: {len(extra)} pairs not in the reference, e.g. {sorted(extra)[:3]}")
    wrong = [k for k in want.keys() & got.keys() if abs(want[k] - got[k]) > 1e-9]
    if wrong:
        k = wrong[0]
        problems.append(f"{label}: {len(wrong)} pairs with a wrong jaccard, e.g. {k}: {got[k]} vs {want[k]}")
    return problems


def table_dir(spark, table: str) -> str:
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    loc = next(r.data_type for r in rows if r.col_name == "Location")
    return loc.removeprefix("file:")


def traced_functions(tracer) -> None:
    from aind_protein_data_transformation_spark.operators import dedup

    for name in (
        "write_minhash_index",
        "incremental_minhash_pairs",
        "append_minhash_shard",
        "verify_minhash_index",
        "compact_minhash_index",
        "swap_minhash_index",
        "shingle_set",
        "minhash_signatures",
        # the shared lifecycle core, as dedup's wrappers look it up
        "verify_index",
        "compact_index",
        "swap_index",
    ):
        tracer.wrap(dedup, name)


def run(r: "harness.Run", size: str, seconds: float, tracer_factory=None) -> dict:
    from aind_protein_data_transformation_spark.operators import dedup

    t_gen = time.perf_counter()
    n_docs, n_shards = SIZES[size]
    table = datagen.make_documents(np.random.default_rng(r.seed), n_docs)
    parts = write_index_parts(table, r.path("in"), r.seed, n_shards)
    texts = dict(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
    ref = Reference(texts)
    gen_s = time.perf_counter() - t_gen

    spark = r.start_session()
    setup_s = time.perf_counter() - r.t_start - gen_s
    tracer = tracer_factory(spark) if tracer_factory else None
    if tracer:
        traced_functions(tracer)
    docs = {k: spark.read.parquet(p) for k, (p, _) in parts.items()}

    problems: list[str] = []
    calls: dict[str, list[float]] = {k: [] for k in STEPS}
    timed: list[float] = []
    pass_s: list[float] = []
    cpu: list[float] = []
    pass_cpu: list[float] = []
    failed = pairs_found = probed = 0

    def step(kind, fn, *args):
        """One timed client call (a span when traced); a raising call
        is counted as failed, not fatal."""
        nonlocal failed
        c0, t0 = harness.tree_cpu_s(), time.perf_counter()
        try:
            out = tracer.call(f"index.{kind}", fn, *args) if tracer else fn(*args)
        except Exception as exc:
            problems.append(f"{kind}: {exc!r}")
            failed += 1
            return None
        calls[kind].append(time.perf_counter() - t0)
        timed.append(calls[kind][-1])
        cpu.append(harness.tree_cpu_s() - c0)
        return out

    def probe(shard, name):
        return dedup.incremental_minhash_pairs(spark, docs[shard], name).toPandas()

    def pair_set(pairs):
        return set(zip(pairs["new_id"].tolist(), pairs["index_id"].tolist()))

    def check(pairs, shard, indexed, label):
        nonlocal failed
        bad = check_pairs(pairs, ref.pairs(parts[shard][1], indexed), label)
        problems.extend(bad)
        failed += bool(bad)

    def lifecycle(name):
        nonlocal failed, pairs_found, probed
        first = len(timed)
        indexed = list(parts["corpus"][1])
        step("write", dedup.write_minhash_index, docs["corpus"], name)
        for i in range(n_shards):
            shard = f"shard{i}"
            pairs = step("probe", probe, shard, name)
            if pairs is not None:
                probed += len(parts[shard][1])
                pairs_found += len(pairs)
                check(pairs, shard, indexed, f"probe {shard}")
            step("append", dedup.append_minhash_shard, spark, docs[shard], name)
            indexed += parts[shard][1]
        before = probe("shard0", name)
        check(before, "shard0", indexed, "probe shard0 before compact")
        before = pair_set(before)
        health = step("verify", dedup.verify_minhash_index, spark, name)
        if health is not None and (
            health.get("missing_stamp_keys") or health["banded_docs"] != health["signed_docs"]
        ):
            problems.append(f"verify: {health}")
            failed += 1
        step("compact", dedup.compact_minhash_index, spark, name, "doc_id", f"{name}_v2")
        step("swap", dedup.swap_minhash_index, spark, name, f"{name}_v2")
        after = probe("shard0", name)
        check(after, "shard0", indexed, "probe shard0 after compact + swap")
        after = pair_set(after)
        if before != after:
            problems.append(f"shard0 pairs changed across compact+swap: {len(before)} -> {len(after)}")
            failed += 1
        pass_s.append(sum(timed[first:]))
        pass_cpu.append(sum(cpu[first:]))
        return [table_dir(spark, f"{name}_{s}") for s in ("bands", "sigs")]

    t_end = time.perf_counter() + seconds
    passes = []
    while not passes or time.perf_counter() < t_end:
        passes.append(lifecycle(f"{INDEX}{len(passes)}"))
    index_dirs = passes[0]
    index_bytes = sum(harness.dir_bytes(d) for d in index_dirs)

    ingest = [p + a for p, a in zip(calls["probe"], calls["append"])]
    # per pass: write; probe + append per shard; verify, compact, swap
    attempted = len(passes) * (1 + 2 * n_shards + 3)
    result = {
        "attempted": attempted,
        "failed": min(failed, attempted),
        "problems": problems,
        "setup_s": setup_s,
        "run_s": harness.median(pass_s),
        "calls": timed,
        "out_bytes_per_item": index_bytes / n_docs,
        "named": {
            "run_cpu_s": (harness.median(pass_cpu), "s"),
            "build_s": (harness.median(calls["write"]) if calls["write"] else 0.0, "s"),
            "shard_ingest_p50_s": (harness.median(ingest) if ingest else 0.0, "s"),
            "compact_swap_s": (
                sum(calls["verify"] + calls["compact"] + calls["swap"]) / len(passes),
                "s",
            ),
            "index_bytes_per_doc": (index_bytes / n_docs, "B"),
        },
        "inputs": {
            "documents": n_docs,
            "indexed_docs": len(parts["corpus"][1]),
            "shard_docs": [len(parts[f"shard{i}"][1]) for i in range(n_shards)],
            "threshold": THRESHOLD,
        },
    }
    if tracer:
        result["tracer"] = tracer
        # the timed calls; the check probes between them are not
        result["top_spans"] = [s for s in tracer.spans if s.parent is None and s.name.startswith("index.")]
        result["layer_fn"] = lambda log: layer_metrics(calls, index_dirs, probed, pairs_found)
    return result


def layer_metrics(calls, index_dirs, probed, pairs_found) -> tuple[dict, list[str]]:
    """Per-step figures of the traced pass, and no attribution problems
    (every step is a timed call of its own)."""
    out = {f"index.{kind}_s": sum(calls[kind]) for kind in STEPS}
    out["index.pairs_found"] = pairs_found
    out["index.pairs_per_probed_doc"] = pairs_found / max(probed, 1)
    out["index.files"] = sum(harness.dir_files(d) for d in index_dirs)
    return out, []

"""Cache lifecycle of the query modules (VERDICT r5 #5, generalized
round 6): every module-level persist() goes through the shared
tracked-persist helper (queries/cache.py), and release_caches() empties
the session's SQL cache manager — so a library caller composing these
queries outside the registry sweep (whose wrapper clears the cache on
entry) can bound the session cache explicitly."""

from __future__ import annotations

import pytest

from aind_protein_data_transformation_spark.queries import cache as qcache
from aind_protein_data_transformation_spark.queries import (
    curation,
    llm_dedup,
    llm_similarity,
    llm_text,
)


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize(
    "fn",
    [
        # dedup_minhash_lsh left r16, dedup_cluster_components r17: their
        # shared subtrees are now eager GC-managed materializations
        # (plans.scale.materialize — no cache-manager entry); persist
        # interacted badly with the bench's cleared-cache reuse contract.
        # See the query bodies.
        llm_dedup.dedup_ngram_jaccard,
        llm_similarity.dedup_embedding_cosine,
        llm_text.text_tfidf_keywords,
        curation.decontaminate_ngram_overlap,
    ],
    ids=lambda f: f.__name__,
)
def test_release_caches_empties_cache_manager(spark, sf_dir, fn):
    spark.catalog.clearCache()
    qcache._PERSISTED.clear()
    n = fn(spark, sf_dir).count()
    assert n > 0
    # the query legitimately cached its multi-consumer subtree(s)...
    assert qcache._PERSISTED
    assert not _cache_manager_empty(spark)
    # ...and the shared hook releases every one of them
    qcache.release_caches()
    assert not qcache._PERSISTED
    assert _cache_manager_empty(spark)


def test_release_is_idempotent_and_rerun_reprimes(spark, sf_dir):
    qcache.release_caches()
    qcache.release_caches()  # no-op on empty
    llm_dedup.dedup_ngram_jaccard(spark, sf_dir).count()
    assert qcache._PERSISTED
    qcache.release_caches()
    assert _cache_manager_empty(spark)


def test_bounded_caches_scope_releases_on_exit(spark, sf_dir):
    """The context-manager form (VERDICT r6 #4): frames persisted inside
    the block are released on exit, no explicit release_caches() call —
    and they never touch the module-global untracked list."""
    spark.catalog.clearCache()
    qcache.release_caches()
    with qcache.bounded_caches():
        n = llm_dedup.dedup_ngram_jaccard(spark, sf_dir).count()
        assert n > 0
        assert not _cache_manager_empty(spark)
        assert not qcache._PERSISTED  # scoped, not on the global list
    assert _cache_manager_empty(spark)


def test_bounded_caches_releases_on_exception(spark, sf_dir):
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="boom"):
        with qcache.bounded_caches():
            llm_dedup.dedup_ngram_jaccard(spark, sf_dir).count()
            assert not _cache_manager_empty(spark)
            raise RuntimeError("boom")
    assert _cache_manager_empty(spark)


def test_bounded_caches_concurrent_threads_are_independent(spark, sf_dir):
    """Thread-safety of the lifecycle (VERDICT r6 #2 / ADVICE r6 #1):
    scopes are thread-local, so one thread exiting its scope must not
    unpersist a frame a concurrent thread persisted and is still
    consuming. Thread A enters a scope, persists, and waits; thread B
    enters and exits its own scope; A's frame must still be cached."""
    import threading

    spark.catalog.clearCache()
    qcache.release_caches()
    a_persisted = threading.Event()
    b_done = threading.Event()
    state: dict[str, object] = {}

    def thread_a():
        with qcache.bounded_caches():
            df = spark.range(100).selectExpr("id", "id * 2 AS v")
            qcache.tracked_persist(df)
            df.count()
            state["a_cached_before"] = df.storageLevel.useMemory
            a_persisted.set()
            assert b_done.wait(timeout=60)
            # B's scope exit must not have evicted A's frame
            state["a_cached_after"] = df.storageLevel.useMemory
        state["a_cached_post_exit"] = df.storageLevel.useMemory

    def thread_b():
        assert a_persisted.wait(timeout=60)
        with qcache.bounded_caches():
            df = spark.range(50).selectExpr("id", "id + 1 AS w")
            qcache.tracked_persist(df)
            df.count()
        b_done.set()

    ta = threading.Thread(target=thread_a)
    tb = threading.Thread(target=thread_b)
    ta.start(), tb.start()
    ta.join(timeout=120), tb.join(timeout=120)
    assert state["a_cached_before"] is True
    assert state["a_cached_after"] is True, "B's scope exit evicted A's frame"
    assert state["a_cached_post_exit"] is False
    assert _cache_manager_empty(spark)


def test_tracked_persist_outside_scope_is_thread_safe(spark):
    """Unscoped tracked_persist from many threads: the lock-guarded
    module list records every handle (no lost appends) and one
    release_caches drains them all."""
    import threading

    spark.catalog.clearCache()
    qcache.release_caches()
    n_threads, per_thread = 8, 5

    def worker(i):
        for j in range(per_thread):
            qcache.tracked_persist(
                spark.range(10 + i * per_thread + j).selectExpr("id")
            )

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert len(qcache._PERSISTED) == n_threads * per_thread
    qcache.release_caches()
    assert not qcache._PERSISTED
    assert _cache_manager_empty(spark)


def test_no_untracked_persist_calls_in_query_modules():
    """Grep-level invariant: no query module may call .persist()
    directly — everything goes through the tracked helper so
    release_caches() can always drain the session."""
    import glob
    import os

    qdir = os.path.dirname(llm_dedup.__file__)
    offenders = []
    for path in glob.glob(os.path.join(qdir, "*.py")):
        if os.path.basename(path) == "cache.py":
            continue
        with open(path) as fh:
            for i, line in enumerate(fh, 1):
                if ".persist()" in line and not line.lstrip().startswith("#"):
                    offenders.append(f"{os.path.basename(path)}:{i}")
    assert not offenders, f"untracked persist() in query modules: {offenders}"


def test_index_storage_calls_live_only_in_the_lifecycle_core():
    """Structural invariant: the index family modules hold no bucketed
    write, stamp write, persist or checkpoint of their own — every
    ``saveAsTable`` / ``bucketBy`` / ``TBLPROPERTIES`` /
    ``.persist()`` / ``.localCheckpoint()`` of the index code is in
    operators/index_lifecycle.py, so a storage fix lands once for all
    three families and index storage cannot grow back per family.
    Docstrings and comments are excluded (they may name the calls)."""
    import ast
    import os

    from aind_protein_data_transformation_spark import operators

    banned_attrs = {"saveAsTable", "bucketBy", "persist", "localCheckpoint"}
    offenders = []
    for mod in ("dedup", "embedding_index", "simhash_index"):
        path = os.path.join(os.path.dirname(operators.__file__), f"{mod}.py")
        with open(path) as fh:
            tree = ast.parse(fh.read())
        docstrings = {
            id(node.body[0].value)
            for node in ast.walk(tree)
            if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef))
            and node.body
            and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr in banned_attrs:
                offenders.append(f"{mod}.py:{node.lineno} .{node.attr}")
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docstrings
                and "TBLPROPERTIES" in node.value
            ):
                offenders.append(f"{mod}.py:{node.lineno} TBLPROPERTIES")
    assert not offenders, f"index storage outside index_lifecycle: {offenders}"

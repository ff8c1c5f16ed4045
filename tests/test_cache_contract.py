"""Cache-composition contract (VERDICT r5 ask #6 / r6 ask #5): every
persist inside the library registers through
``lightlane_spark.cache.tracked_persist``, and every lineage cut goes
through ``lightlane_spark.cache.tracked_checkpoint``, so a composing
session can release library-held blocks deterministically —
``cache_scope()`` per unit of work, or ``unpersist_all()`` at any
point — instead of relying on LRU eviction or GC to eventually reclaim
them. With a checkpoint directory set, the cuts survive block loss.
"""

from __future__ import annotations

import threading

import pyspark.sql.functions as F
import pytest

from lightlane_spark import cache
from lightlane_spark.operators import clustering
from lightlane_spark.operators.fuzzy_dedup import simhash_near_pairs, simhash_signatures


def _n_cached_rdds(spark) -> int:
    """Materialized cache blocks registered with the context. SQL
    cache entries appear here once their first action runs, so after
    counting a persisted frame the number is > 0 iff cached data is
    actually being held."""
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture()
def docs(spark):
    rows = [(i, f"alpha beta gamma delta epsilon doc {i % 7} common tail") for i in range(40)]
    return spark.createDataFrame(rows, "doc_id: bigint, text: string")


def _near_pairs(docs):
    """A library call that persists: ``simhash_near_pairs`` pins its
    signature relation, which both self-join sides read."""
    return simhash_near_pairs(simhash_signatures(docs))


def test_cache_scope_releases_library_persists(spark, docs):
    spark.catalog.clearCache()
    cache.unpersist_all()
    assert _cache_manager_empty(spark)
    # baseline, not zero: test-owned local checkpoints
    # (test_streaming's foreachBatch state) linger until ContextCleaner
    # reclaims them; the contract is that THIS scope adds nothing that
    # survives it
    baseline = _n_cached_rdds(spark)
    with cache.cache_scope():
        _near_pairs(docs).count()  # persists the signatures
        assert not _cache_manager_empty(spark), (
            "simhash_near_pairs should persist its signatures inside the scope"
        )
    assert _cache_manager_empty(spark), (
        "cache_scope exit must release every library persist"
    )
    assert _n_cached_rdds(spark) <= baseline


def test_unpersist_all_releases_and_reports(spark, docs):
    spark.catalog.clearCache()
    cache.unpersist_all()
    _near_pairs(docs).count()
    _near_pairs(docs.filter("doc_id % 2 = 0")).count()
    assert not _cache_manager_empty(spark)
    released = cache.unpersist_all()
    assert released >= 2  # one signature relation per call
    assert _cache_manager_empty(spark)
    # idempotent: nothing tracked, nothing released
    assert cache.unpersist_all() == 0


def test_scope_does_not_touch_caller_persists(spark, docs):
    spark.catalog.clearCache()
    cache.unpersist_all()
    mine = docs.select("doc_id", F.length("text").alias("n")).persist()
    mine.count()
    with cache.cache_scope():
        _near_pairs(docs).count()
    assert not _cache_manager_empty(spark), (
        "caller-owned persist must survive a library cache_scope"
    )
    mine.unpersist(blocking=True)
    assert _cache_manager_empty(spark)


def test_tracked_persist_dedupes_registry(spark, docs):
    """Re-registering the same frame must not grow the registry
    (ADVICE r8: loop-heavy sessions calling cms_estimate/bloom_member
    against one pinned sketch accumulated one strong ref per call)."""
    spark.catalog.clearCache()
    cache.unpersist_all()
    frame = docs.select("doc_id")
    for _ in range(5):
        out = cache.tracked_persist(frame)
    assert len(cache._TRACKED) == 1
    assert out is frame  # persist() returns the same wrapper
    # outer registration point wins: an inner scope re-pin is a no-op
    with cache.cache_scope():
        cache.tracked_persist(frame)
        assert len(cache._TRACKED) == 1
    frame.count()
    assert not _cache_manager_empty(spark), (
        "inner-scope exit must not release the outer-scope pin"
    )
    assert cache.unpersist_all() == 1
    assert _cache_manager_empty(spark)
    assert not cache._TRACKED


def test_fresh_queries_run_leaves_no_cache_under_scope(spark, sf_dir):
    """The composition contract end-to-end: wrap cache-heavy
    ``queries()`` entries in one scope; on exit the session holds no
    cached frames at all."""
    import __spark_entry__ as m

    qs = m.queries()
    spark.catalog.clearCache()
    cache.unpersist_all()
    baseline = _n_cached_rdds(spark)  # test-owned local checkpoints linger
    with cache.cache_scope():
        for name in ("simhash_near_pairs", "mutual_information"):
            qs[name](spark, sf_dir).count()
    assert _cache_manager_empty(spark)
    assert _n_cached_rdds(spark) <= baseline


def _path_graph(spark, n: int = 64):
    """A path over ``n`` nodes whose ids are scrambled along it, so star
    contraction needs several rounds."""
    ids = [(i * 37) % n for i in range(n)]
    return spark.createDataFrame(
        list(zip(ids, ids[1:])), "id_a: bigint, id_b: bigint"
    )


def _dense_graph(spark):
    """A 5-clique with a 3-edge tail: the 3-core peels the tail."""
    edges = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    edges += [(4, 5), (5, 6), (6, 7)]
    return spark.createDataFrame(edges, "id_a: bigint, id_b: bigint")


def _cc_distributed(spark, sf_dir=None):
    return clustering.connected_components(_path_graph(spark), driver_edge_cap=None)


def _kcore(spark, sf_dir=None):
    return clustering.kcore_peel(_dense_graph(spark), k=3, rounds=3)


@pytest.mark.parametrize(
    "name, release",
    [
        (name, "unpersist_all")
        for name in (
            "pagerank_neardup",
            "bpe_train",
            "triangle_count",
            "connected_components",
        )
    ]
    + [
        (name, "cache_scope")
        for name in ("pagerank_neardup", "triangle_count", "connected_components")
    ],
)
def test_checkpoints_released_with_persists(spark, sf_dir, name, release):
    """Every local checkpoint a call cuts is released with the library's
    persists: afterwards the context holds no persistent RDD it did not
    hold before the call (garbage collection only removes entries)."""
    import __spark_entry__ as m

    call = _cc_distributed if name == "connected_components" else m.queries()[name]
    spark.catalog.clearCache()
    cache.unpersist_all()
    before = _persistent_rdd_ids(spark)

    def run():
        call(spark, sf_dir).collect()
        assert cache._TRACKED, f"{name} registered nothing to release"

    if release == "cache_scope":
        with cache.cache_scope():
            run()
    else:
        run()
        cache.unpersist_all()
    assert _persistent_rdd_ids(spark) <= before


def _drop_all_blocks(spark) -> None:
    """Unpersist every RDD the context holds, as an executor loss would."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def _cc_losing_blocks_mid_iteration(spark, monkeypatch):
    """Drop every block before the second round's cut, when round 1's
    cut has materialized (its fingerprint action ran)."""
    calls = []

    def cut(df):
        calls.append(df)
        if len(calls) == 2:
            _drop_all_blocks(spark)
        return cache.tracked_checkpoint(df)

    monkeypatch.setattr(clustering, "tracked_checkpoint", cut)
    rows = _cc_distributed(spark).collect()
    assert len(calls) >= 3
    return rows


FAULTS = {
    "connected_components": (_cc_distributed, _cc_losing_blocks_mid_iteration),
}


@pytest.mark.parametrize("name", sorted(FAULTS))
def test_checkpoint_dir_survives_block_loss(spark, tmp_path, monkeypatch, name):
    """With a checkpoint directory the lineage cuts are reliable: losing
    every block leaves the answer unchanged."""
    plain, faulty = FAULTS[name]
    want = sorted(plain(spark).collect())
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(tmp_path))
    try:
        got = sorted(faulty(spark, monkeypatch))
    finally:
        # back to no directory: later tests take the local path
        sc._jsc.sc().setCheckpointDir(None)
        cache.unpersist_all()
    assert got == want


@pytest.mark.parametrize("name", sorted(FAULTS))
def test_local_checkpoint_block_loss_fails(spark, monkeypatch, name):
    """Without a checkpoint directory the same loss fails the query:
    the injection bites."""
    assert spark.sparkContext.getCheckpointDir() is None
    try:
        with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
            FAULTS[name][1](spark, monkeypatch)
    finally:
        cache.unpersist_all()


def test_kcore_peel_recomputes_lost_blocks(spark):
    """kcore_peel cuts no lineage, so without a checkpoint directory a
    block loss after the first action costs a recompute, not the
    answer (a local checkpoint here failed the re-read with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
    assert spark.sparkContext.getCheckpointDir() is None
    want = sorted(_kcore(spark).collect())
    try:
        out = _kcore(spark)
        out.collect()
        _drop_all_blocks(spark)
        got = sorted(out.select("*").collect())
    finally:
        cache.unpersist_all()
    assert got == want


def test_run_job_leaves_registry_unchanged(spark, sf_dir, tmp_path):
    """A pipeline run releases AND deregisters its fan-out persist: the
    registry must not gain one strong reference per run."""
    from lightlane_spark.jobspec import run_job

    before = len(cache._TRACKED)
    for i in range(2):
        run_job(spark, {
            "extract": {"kind": "parquet", "sf_dir": sf_dir, "table": "nation"},
            "sinks": [{"kind": "csv", "path": str(tmp_path / f"n{i}")}],
        })
    assert len(cache._TRACKED) == before


class _FakeFrame:
    """persist()/unpersist() stand-in: records whether it is cached."""

    def __init__(self, name: str) -> None:
        self.name, self.cached = name, False

    def persist(self, *_):
        self.cached = True
        return self

    def unpersist(self, *_):
        self.cached = False
        return self


def test_interleaved_scopes_on_two_threads_release_only_their_own():
    """Scope A opens on one thread and persists f1; scope B opens on
    another and persists f2; A exits; B persists f3 and exits. A's exit
    must leave f2 cached and tracked, and B's exit must release and
    deregister f2 and f3."""
    steps = [threading.Event() for _ in range(4)]
    f1, f2, f3 = _FakeFrame("f1"), _FakeFrame("f2"), _FakeFrame("f3")
    before = len(cache._TRACKED)

    def scope_a():
        with cache.cache_scope():
            cache.tracked_persist(f1)
            steps[0].set()
            steps[1].wait()
        steps[2].set()

    def scope_b():
        steps[0].wait()
        with cache.cache_scope():
            cache.tracked_persist(f2)
            steps[1].set()
            steps[2].wait()
            assert f2.cached and any(t is f2 for t in cache._TRACKED)
            cache.tracked_persist(f3)
        steps[3].set()

    errors = []

    def run(fn):
        try:
            fn()
        except BaseException as e:  # noqa: BLE001 — reraised below
            errors.append(e)
            for s in steps:
                s.set()

    threads = [threading.Thread(target=run, args=(fn,)) for fn in (scope_a, scope_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert not (f1.cached or f2.cached or f3.cached)
    assert len(cache._TRACKED) == before


def test_concurrent_pipelines_in_own_scopes(spark, sf_dir, tmp_path):
    """Two jobspec pipelines on two threads against one session, each
    inside its own cache_scope(): results equal the serial runs, and
    scope A's exit leaves B's frame cached until B's own exit."""
    from pyspark import StorageLevel

    from lightlane_spark.jobspec import run_job

    def spec(table, where, key, out):
        return {
            "extract": {"kind": "parquet", "sf_dir": sf_dir, "table": table, "where": where},
            "transforms": [{"op": "dedup", "keys": [key]}],
            "sinks": [{"kind": "csv", "path": f"{out}_csv"}],
            "load": {"path": out, "mode": "overwrite"},
        }

    jobs = {
        "a": ("orders", "o_orderkey % 2 = 0", "o_orderkey"),
        "b": ("lineitem", "l_quantity > 10", "l_orderkey"),
    }

    def rows(path):
        return sorted(spark.read.parquet(path).collect())

    serial = {}
    for name, (table, where, key) in jobs.items():
        out = str(tmp_path / f"serial_{name}")
        run_job(spark, spec(table, where, key, out))
        serial[name] = rows(out)

    spark.catalog.clearCache()
    cache.unpersist_all()
    before = len(cache._TRACKED)
    markers = {"a": spark.range(5), "b": spark.range(7)}
    a_open, both_ran, a_closed = (threading.Event() for _ in range(3))
    seen, errors = {}, []

    def worker(name):
        table, where, key = jobs[name]
        try:
            if name == "b":
                a_open.wait()
            with cache.cache_scope():
                cache.tracked_persist(markers[name]).count()
                if name == "a":
                    a_open.set()
                run_job(spark, spec(table, where, key, str(tmp_path / f"conc_{name}")))
                if name == "a":
                    both_ran.wait()
                else:
                    both_ran.set()
                    a_closed.wait()
            if name == "a":
                seen["a_after_a"] = markers["a"].storageLevel
                seen["b_after_a"] = markers["b"].storageLevel
                a_closed.set()
        except BaseException as e:  # noqa: BLE001 — reraised below
            errors.append(e)
            for ev in (a_open, both_ran, a_closed):
                ev.set()

    threads = [threading.Thread(target=worker, args=(n,)) for n in jobs]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    none = StorageLevel(False, False, False, False)
    assert seen["a_after_a"] == none
    assert seen["b_after_a"] != none, "scope A released scope B's frame"
    assert markers["b"].storageLevel == none
    assert len(cache._TRACKED) == before
    for name in jobs:
        assert rows(str(tmp_path / f"conc_{name}")) == serial[name]

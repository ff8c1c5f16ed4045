"""Session memos (``lightlane_spark.cache.session_memo``).

Parsed expression Columns, inferred schemas and the shipped-package
flag are cached per SparkContext, keyed weakly by the context object.
A dropped context's entries must go with it, and every memo site must
store its value under the live context — never under another one.
Cycling a real second SparkContext inside the suite would tear down
the session fixture, so the drop path is shown with weakref-able fake
contexts, which take the identical code path.
"""

from __future__ import annotations

import gc
import threading

from lightlane_spark import cache
from lightlane_spark.cache import session_memo


class _FakeContext:
    """Stands in for a SparkContext: weakref-able, hashable by id."""

    def __init__(self) -> None:
        self.shipped: list[str] = []

    def addPyFile(self, path: str) -> None:  # noqa: N802 — SparkContext API
        self.shipped.append(path)


class _FakeSession:
    def __init__(self, sc) -> None:
        self.sparkContext = sc


def _memo_of(sc) -> dict:
    return cache._MEMOS.get(sc, {})


def test_builds_once_per_context_and_key():
    a, b = _FakeContext(), _FakeContext()
    calls = []

    def build(tag):
        calls.append(tag)
        return object()

    v1 = session_memo(a, "k", lambda: build("a"))
    assert session_memo(a, "k", lambda: build("again")) is v1
    # a session resolves to its context's entries
    assert session_memo(_FakeSession(a), "k", lambda: build("again")) is v1
    v2 = session_memo(b, "k", lambda: build("b"))
    assert v2 is not v1
    assert session_memo(a, ("k", 2), lambda: build("a2")) is not v1
    assert calls == ["a", "b", "a2"]


def test_dropped_context_takes_its_entries():
    live, dead = _FakeContext(), _FakeContext()
    session_memo(live, ("sig", 16), lambda: "live")
    session_memo(dead, ("sig", 16), lambda: "stale")
    n = len(cache._MEMOS)
    del dead
    gc.collect()
    assert len(cache._MEMOS) == n - 1
    assert _memo_of(live) == {("sig", 16): "live"}


def test_no_context_memoizes_nothing():
    calls = []
    for _ in range(2):
        session_memo(None, "k", lambda: calls.append(1))
    assert len(calls) == 2


def test_concurrent_callers_build_once():
    sc = _FakeContext()
    calls = []
    gate = threading.Barrier(4)

    def worker():
        gate.wait()
        session_memo(sc, "k", lambda: calls.append(1) or len(calls))

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert calls == [1]


def test_package_shipped_once_per_context(tmp_path, monkeypatch):
    import tempfile

    from lightlane_spark.shipping import ensure_package_shipped

    # keep the live session's shipped zip untouched
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    a, b = _FakeContext(), _FakeContext()
    for _ in range(3):
        ensure_package_shipped(_FakeSession(a))
    ensure_package_shipped(_FakeSession(b))
    assert len(a.shipped) == 1 and len(b.shipped) == 1
    assert a.shipped[0].startswith(str(tmp_path)) and a.shipped[0].endswith(".zip")


def test_sig_and_band_and_pair_memos_live_under_the_context(spark):
    from lightlane_spark.operators import fuzzy_dedup as fd

    sc = spark.sparkContext
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], "doc_id bigint, text string"
    )
    # force misses so each memo site builds under the live context
    for key in (("minhash_sig", 16), ("lsh_bands", 4, 4), "bucket_pairs"):
        _memo_of(sc).pop(key, None)
    pairs = fd.dedup_minhash(docs)
    pairs.count()
    memo = _memo_of(sc)
    sig = memo[("minhash_sig", 16)]
    assert ("lsh_bands", 4, 4) in memo and "bucket_pairs" in memo
    # a second build reuses the parsed Columns
    sh = fd.shingle(docs, k=3, distinct=False)
    fd.minhash_signature_arrays(sh, num_hashes=16)
    assert _memo_of(sc)[("minhash_sig", 16)] is sig
    cache.unpersist_all()


def test_schema_memo_lives_under_the_context(spark, sf_dir):
    import os

    from lightlane_spark.sources import parquet as pq

    sc = spark.sparkContext
    path = os.path.abspath(pq.table_path(sf_dir, "region"))
    memo = _memo_of(sc)
    for k in [k for k in memo if isinstance(k, tuple) and k[:2] == ("parquet_schema", path)]:
        del memo[k]
    df = pq.read_table(spark, sf_dir, "region")
    assert df.count() > 0
    keys = [k for k in _memo_of(sc) if isinstance(k, tuple) and k[:2] == ("parquet_schema", path)]
    assert len(keys) == 1
    assert _memo_of(sc)[keys[0]] == df.schema


def test_hyperplane_memo_lives_under_the_context(spark):
    from lightlane_spark.operators import similarity as sim

    sc = spark.sparkContext
    memo = _memo_of(sc)
    for k in [k for k in memo if isinstance(k, tuple) and k[0] == "hyperplane"]:
        del memo[k]
    col = sim.hyperplane_bits("v", dims=4, num_bits=2)
    assert sim.hyperplane_bits("v", dims=4, num_bits=2) is col
    assert len([k for k in _memo_of(sc) if isinstance(k, tuple) and k[0] == "hyperplane"]) == 1


def test_cache_is_the_only_module_holding_containers():
    """Session-scoped state has one holder: no other package module
    binds a dict, list or set at module level (read-only tables use
    MappingProxyType / tuple / frozenset)."""
    import importlib
    import pkgutil

    import lightlane_spark

    def containers(mod):
        return sorted(
            k for k, v in vars(mod).items()
            if not k.startswith("__") and isinstance(v, (dict, list, set))
        )

    assert "_TRACKED" in containers(cache)
    found = {}
    for info in pkgutil.walk_packages(lightlane_spark.__path__, "lightlane_spark."):
        if info.name == "lightlane_spark.cache":
            continue
        names = containers(importlib.import_module(info.name))
        if names:
            found[info.name] = names
    assert found == {}

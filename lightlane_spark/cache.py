"""Session-scoped state: the library cache registry and session memos.
This module is the one holder of state that outlives a single call.

**Cache registry.** Several operators persist an intermediate that is
read more than once (SimHash signatures, CDC change sets, fan-out
inputs). Each site is deliberately NOT unpersisted inline: the returned
plan is lazy, so an eager unpersist would empty the cache before the
caller's action ever runs. That leaves lifecycle management to the
caller — and a user composing many queries in one long-lived session
would otherwise accumulate corpus-sized cached frames until LRU
eviction / GC pressure does the cleanup for them.

- every library persist goes through :func:`tracked_persist`, which
  registers the frame in the module-level registry ``_TRACKED``;
- :func:`unpersist_all` releases every tracked frame (and only
  tracked frames — a user's own ``df.persist()`` is never touched);
- :func:`cache_scope` wraps a unit of composition (one query, one
  pipeline run) and releases exactly the frames persisted inside it
  on exit, even on error.

The registry holds strong references on purpose: Spark's SQL
CacheManager keys cached data by canonicalized plan, not by the
Python wrapper, so a garbage-collected wrapper would orphan the cache
entry with no handle left to unpersist it.

**Checkpoints.** Every lineage cut goes through
:func:`tracked_checkpoint`, the one place in the package that calls
``checkpoint`` or ``localCheckpoint``. Both are lazy (``eager=False``):
under AQE, building the frame still runs every shuffle and broadcast
stage below the cut; only the final stage waits for the next action.

- when the SparkContext has a checkpoint directory
  (``sc.setCheckpointDir``, a deployment setting), the cut is a
  reliable ``checkpoint``: its files survive executor loss, at the cost
  of recomputing the frame's last stage once for the file write. Spark
  reclaims the files (``spark.cleaner.referenceTracking.cleanCheckpoints``);
  the registry does not track them;
- otherwise it is a ``localCheckpoint``, whose blocks live in executor
  storage. Its RDD is registered like a persist, so
  :func:`unpersist_all` and the enclosing :func:`cache_scope` release
  the blocks. Release the frame only after its last action: a released
  persist recomputes, but a frame built over a released (or lost)
  local checkpoint fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``.

An operator cuts where a loop that runs to convergence would otherwise
grow its plan (``connected_components``' rounds) or where a 10× A/B
shows the cut pays. An operator with a fixed few rounds and no action
between them (``kcore_peel``, ``label_propagation``) runs uncut, so
losing blocks costs it a recompute, not the query.

**Scratch directories.** A query that round-trips a table through
files returns a lazy frame over them, so the files must outlive the
call. :func:`scratch_dir` makes such a directory and removes it when the
interpreter exits.

**Session memos.** :func:`session_memo` caches values that are valid for
one SparkContext — parsed expression Columns, inferred schemas, the
shipped-package flag. Entries are keyed weakly by the context object,
so a stopped and dropped context takes its entries with it.

Thread contract: cache scopes are per-thread. A scope releases only
the frames persisted and local checkpoints cut on its own thread while
it was the innermost open scope there, so pipelines on different
threads sharing one session never release each other's frames.
:func:`unpersist_all` is process-wide: it releases every tracked entry,
whichever thread registered it. The registry and the memos are changed
under one lock.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading
import weakref
from contextlib import contextmanager
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame

_LOCK = threading.RLock()
# persisted frames and local checkpoints' JVM RDDs: both release via
# ``.unpersist(blocking)``
_TRACKED: list[Any] = []
_SCOPES = threading.local()  # .stack: this thread's open scopes, innermost last
_MEMOS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` + registration in the library cache registry.

    Every persist site inside ``lightlane_spark`` uses this instead of
    calling ``persist()`` directly, so :func:`unpersist_all` /
    :func:`cache_scope` can release library-held cache without
    touching caller-owned persists. Re-registering the same frame is
    a no-op (it stays with the scope that FIRST registered it, so a
    nested :func:`cache_scope` never releases a frame an outer scope
    pinned, and loop-heavy callers such as ``cms_estimate`` re-pinning
    one sketch do not grow the registry).
    """
    out = df.persist()
    _track(out)
    return out


def tracked_checkpoint(df: DataFrame) -> DataFrame:
    """``df`` with its lineage cut: a reliable checkpoint when the
    context has a checkpoint directory, else a local checkpoint
    registered for release (see "Checkpoints" above)."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=False)
    out = df.localCheckpoint(eager=False)
    _track(out._jdf.logicalPlan().rdd())
    return out


def _track(entry: Any) -> None:
    with _LOCK:
        if not any(t is entry for t in _TRACKED):
            _TRACKED.append(entry)
            stack = getattr(_SCOPES, "stack", None)
            if stack:
                stack[-1].append(entry)


def _unpersist(entries: list[Any], blocking: bool) -> int:
    released = 0
    for entry in reversed(entries):
        try:
            entry.unpersist(blocking)
            released += 1
        except Exception:  # noqa: BLE001 — session may already be stopped
            pass
    return released


def unpersist_all(blocking: bool = False) -> int:
    """Unpersist every frame the library has persisted and every local
    checkpoint it has cut, on any thread; returns the number released.
    Caller-owned persists and checkpoints are untouched. Idempotent —
    entries already released (or whose session is gone) are skipped
    silently."""
    with _LOCK:
        frames = _TRACKED[:]
        del _TRACKED[:]
    return _unpersist(frames, blocking)


@contextmanager
def cache_scope() -> Iterator[None]:
    """Scope a unit of composition: frames persisted and local
    checkpoints cut by library code on this thread inside the ``with``
    block are released on exit (success or error). Scopes nest in the
    ordinary LIFO ``with`` discipline; an inner scope releases only the
    entries registered while it was open.

    >>> with cache_scope():
    ...     simhash_near_pairs(sigs).count()   # persists the signatures
    ... # exiting: those frames are unpersisted, the session is clean
    """
    if not hasattr(_SCOPES, "stack"):
        _SCOPES.stack = []
    mine: list[Any] = []
    _SCOPES.stack.append(mine)
    try:
        yield
    finally:
        _SCOPES.stack.pop()
        ours = {id(df) for df in mine}  # stable: ``mine`` holds the refs
        with _LOCK:
            # frames unpersist_all already took are no longer ours
            released = [t for t in _TRACKED if id(t) in ours]
            _TRACKED[:] = [t for t in _TRACKED if id(t) not in ours]
        _unpersist(released, False)


def scratch_dir(prefix: str) -> str:
    """A new temporary directory (``tempfile.mkdtemp(prefix=prefix)``)
    for files a returned lazy frame still reads; it is removed when the
    interpreter exits."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, True)
    return path


def session_memo(spark, key: Any, build: Callable[[], Any]) -> Any:
    """``build()``'s value for ``key``, computed once per SparkContext.

    ``spark`` is a SparkSession or a SparkContext. Entries live as long
    as the context object does: a stopped context's entries go with it
    once it is garbage-collected. With no context (``None``) nothing
    is memoized. ``build`` runs under the lock, so concurrent callers
    of one key build it once."""
    sc = getattr(spark, "sparkContext", spark)
    if sc is None:
        return build()
    with _LOCK:
        memo = _MEMOS.setdefault(sc, {})
        if key not in memo:
            memo[key] = build()
        return memo[key]

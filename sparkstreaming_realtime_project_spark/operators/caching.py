"""The one materialization policy: who caches a frame, who fills the
cache, and who releases it.

The rule every builder follows:

- A builder returns a LAZY plan. It launches no Spark job to build it;
  the only actions a builder may run are the ones whose result decides
  its control flow (a convergence count, a fitted model collected to
  the driver, the ``localCheckpoint`` that cuts an iterative plan).
- A frame gets a ``cached()`` cut only when the plan reads it from two
  or more consumers, or when the plan needs a barrier: one range
  partitioning both branches of ``prefix_sums`` must read, or a cut
  that keeps a Generate from inlining an upstream projection
  (``winnow_fingerprints``). Every cache is a plan boundary (AQE's
  exchange reuse does not cross an InMemoryRelation), so a
  single-consumer cut only buys a cache write.
- The first action that reads a cut fills it; nothing runs a ``count()``
  just to fill a cache.
- A builder never releases its own cuts: the owner does. The owner is
  the innermost ``cache_scope()`` open on the calling thread, which
  releases its caches when it exits, on failure too. Caches taken
  outside any scope belong to the process and leave with
  ``release_persisted()``. A foreachBatch body runs on its own thread,
  so each trigger's scope holds only its own caches.

The Spark cache is keyed by plan, so two owners caching the same plan
share one entry, and whichever releases first releases it for both.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

_local = threading.local()
_lock = threading.Lock()
_unscoped: list[DataFrame] = []


def _scopes() -> list[list[DataFrame]]:
    if not hasattr(_local, "scopes"):
        _local.scopes = []
    return _local.scopes


def cached(df: DataFrame) -> DataFrame:
    """Persist ``df`` lazily and hand it to the current owner."""
    df = df.persist()
    scopes = _scopes()
    if scopes:
        scopes[-1].append(df)
    else:
        with _lock:
            _unscoped.append(df)
    return df


def _release(frames: list[DataFrame]) -> int:
    n = 0
    for df in frames:
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped: nothing to free
            pass
    return n


@contextmanager
def cache_scope() -> Iterator[None]:
    """Own every cache ``cached()`` takes on this thread inside the
    block, and release them all on exit."""
    frames: list[DataFrame] = []
    scopes = _scopes()
    scopes.append(frames)
    try:
        yield
    finally:
        scopes.pop()
        _release(frames)


def release_persisted() -> int:
    """Release every cache taken outside a scope and return how many
    there were. Safe to call at any time: a plan that still reads a
    released cut recomputes it."""
    with _lock:
        frames = _unscoped[:]
        _unscoped.clear()
    return _release(frames)

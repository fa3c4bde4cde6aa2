"""The one owner of every cached intermediate the engine creates.

Rule: outside this module and ``internals.py`` (the py4j facade), nothing
under ``assignment_etl_spark/`` calls ``.persist()`` or ``.unpersist()``
(``tests/test_cache_ownership.py`` checks the source tree). Builders
persist the shared bases of frames they RETURN (a clean table and its
audit log, SURVEY §4.3.2; the NB token stream, the BM25 TF table, ...),
so they cannot release those caches themselves: the caller's action
still reads them. :func:`scoped_persist` records each cache with an owner
instead:

- the innermost open :func:`scope` on the current thread, which
  unpersists everything it owns on exit. Scopes nest and are per thread
  (a server request thread or a streaming ``foreachBatch`` callback
  never releases another thread's caches);
- otherwise the process-wide root, drained by
  :func:`release_scoped_caches` — how the bench, perfbench and tests
  release between queries.

A function may hand back a cache it persisted early with :func:`release`
(an iterative loop dropping the previous round). Storage levels and
Spark's plan-match cache substitution are untouched. Lineage cuts
(``localCheckpoint`` and io/store's release of it) are not owned here.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_ROOT: list[DataFrame] = []
_ROOT_LOCK = threading.Lock()


class _Scopes(threading.local):
    def __init__(self) -> None:
        self.stack: list[list[DataFrame]] = []  # this thread's, innermost last


_THREAD = _Scopes()


def _drop(frames: list[DataFrame], df: DataFrame) -> bool:
    """Remove ``df`` (by identity) from ``frames``; True if it was there."""
    for i, f in enumerate(frames):
        if f is df:
            del frames[i]
            return True
    return False


def _unpersist_all(frames: list[DataFrame], blocking: bool) -> int:
    n = 0
    while frames:
        try:
            frames.pop().unpersist(blocking)
            n += 1
        except Exception:  # noqa: BLE001 — a dead session must not mask the drain
            pass
    return n


@contextmanager
def scope() -> Iterator[None]:
    """Own every :func:`scoped_persist` made inside the block on this
    thread and unpersist them when it exits, normally or by exception."""
    frames: list[DataFrame] = []
    _THREAD.stack.append(frames)
    try:
        yield
    finally:
        _THREAD.stack = [s for s in _THREAD.stack if s is not frames]
        _unpersist_all(frames, blocking=False)


def scoped_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """``df.persist(level)`` owned by the innermost :func:`scope` on this
    thread, else by the root. Returns ``df``; the default level is
    ``DataFrame.persist()``'s own."""
    df.persist(level)
    if _THREAD.stack:
        _THREAD.stack[-1].append(df)
    else:
        with _ROOT_LOCK:
            _ROOT.append(df)
    return df


def release(df: DataFrame) -> bool:
    """Unpersist ``df`` now if this thread's scopes or the root own it.
    Anything else (a caller-passed frame, another thread's cache) is left
    alone and ``False`` is returned."""
    if not any(_drop(frames, df) for frames in reversed(_THREAD.stack)):
        with _ROOT_LOCK:
            if not _drop(_ROOT, df):
                return False
    df.unpersist()
    return True


def release_scoped_caches(blocking: bool = False) -> int:
    """Unpersist every frame the root owns; returns how many. Safe at any
    time (a frame released mid-consumption only recomputes), but meant
    for between queries / bench reps, after the consuming action."""
    with _ROOT_LOCK:
        frames = _ROOT[:]
        _ROOT.clear()
    return _unpersist_all(frames, blocking)


def scoped_cache_count() -> int:
    """Persists owned right now by the root plus this thread's open
    scopes (test / probe hook)."""
    with _ROOT_LOCK:
        return len(_ROOT) + sum(len(frames) for frames in _THREAD.stack)

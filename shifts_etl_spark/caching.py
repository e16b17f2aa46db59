"""One owner for every persisted frame.

An operator that reads one intermediate from several places (both sides
of a self-join, every round of an iterative loop) persists it with
:func:`persist`, which hands it to one owner:

- the innermost :func:`scope` open on the calling thread, which
  unpersists it when the ``with`` block exits, by return or by raise;
- else the ambient owner, which keeps the newest ``_AMBIENT_BOUND``
  frames and unpersists older ones first in, first out. Recent frames
  stay warm on purpose: Spark substitutes a cached frame into any later
  identical plan, so a warm-up run followed by a timed run of the same
  entry reuses it (draining after every call measured a 5x bench
  regression on x3). :func:`release_orphaned_caches` drains it.

Releasing is always safe: an unpersisted frame recomputes, it never
corrupts. A frame whose session has stopped holds no blocks, so it
counts as released. docs/SCALE.md ("Cache ownership") lists who opens
scopes and which loops still unpersist by hand.
"""

from __future__ import annotations

import contextlib
import contextvars
import threading
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

# the scopes open on this thread, innermost last
_SCOPES: contextvars.ContextVar[tuple[list[DataFrame], ...]] = (
    contextvars.ContextVar("caching_scopes", default=())
)

_AMBIENT: list[DataFrame] = []
_AMBIENT_BOUND = 12
# serializes append, trim and drain, so concurrent threads (pooled
# entry sweeps, a stream_etl epoch beside the driver) cannot race a pop
_AMBIENT_LOCK = threading.Lock()


def persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """``df.persist(level)`` (the default is ``DataFrame.persist``'s),
    owned by the innermost open scope, else by the ambient owner."""
    df.persist(level)
    scopes = _SCOPES.get()
    if scopes:
        scopes[-1].append(df)
        return df
    with _AMBIENT_LOCK:
        _AMBIENT.append(df)
        evicted = _AMBIENT[:-_AMBIENT_BOUND]
        del _AMBIENT[:-_AMBIENT_BOUND]
    for old in evicted:  # outside the lock: unpersist can block on the JVM
        _release(old)
    return df


@contextlib.contextmanager
def scope() -> Iterator[None]:
    """Own every frame :func:`persist` caches inside the block on this
    thread, and unpersist them all when it exits."""
    owned: list[DataFrame] = []
    token = _SCOPES.set((*_SCOPES.get(), owned))
    try:
        yield
    finally:
        _SCOPES.reset(token)
        for df in owned:
            _release(df)


def release_orphaned_caches() -> int:
    """Unpersist every frame the ambient owner holds; returns how many.
    Pops as it goes, so an error can never leave it half drained."""
    n = 0
    while True:
        with _AMBIENT_LOCK:
            if not _AMBIENT:
                return n
            df = _AMBIENT.pop()
        _release(df)
        n += 1


def _release(df: DataFrame) -> None:
    # unpersist raises on a frame of a stopped session, which holds no
    # blocks: already released, and a new session must not trip on it
    try:
        df.unpersist()
    except Exception:
        pass

"""Materialized intermediates and the scope that owns them.

:func:`materialize` is the package's one way to store a frame that
several consumers, or the rounds of a loop, read. It stores a local
checkpoint (row blocks in the block manager, lineage cut) or, with
``columnar=True``, a compressed columnar cache in the session's cache
manager. Neither form frees itself in time: a checkpoint's blocks wait
for the ContextCleaner to see a JVM GC, and a cached relation stays
registered until it is unpersisted.

:func:`scope` owns them. Every frame materialized while a scope is open
(in this thread, or in a thread started under a copy of its context) is
held by the innermost open scope and released when it exits, normally
or by an exception. A columnar request for a plan that is already cached
reads that cache and leaves it to the scope that cached it, so an inner
scope cannot release an outer one's frame. Outside any scope a
checkpoint is left to the ContextCleaner, and a columnar request takes
the checkpoint form, since no owner would ever release the cached
relation.

A released checkpoint is not recomputed: an action on it afterwards
fails. So a scope is opened only by code that runs every action on the
frames it holds before it exits and returns no frame that reads them:
``Pipeline.process``, ``kmeans_fit``, ``train_unigram``, and the
per-query build and exec of ``bench.py`` and ``tools/scale_probe.py``.
"""

from __future__ import annotations

import contextlib
import contextvars
from collections.abc import Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame

#: (frame, columnar) pairs held by the innermost open scope; None outside
_SCOPE = contextvars.ContextVar("materialize_scope", default=None)


def materialize(df: DataFrame, *, eager: bool = True,
                columnar: bool = False) -> DataFrame:
    """``df`` stored once for its consumers: computed now when ``eager``,
    otherwise by the first action that reads it. ``columnar`` asks for
    the cached-relation form, which holds only inside a scope."""
    held = _SCOPE.get()
    columnar = columnar and held is not None
    if columnar and df.storageLevel != StorageLevel.NONE:
        # the cache manager keys a cached relation by its plan, so this
        # frame reads a cache that another owner holds and releases
        held = None
        out = df
    else:
        out = df.persist() if columnar else df.localCheckpoint(eager=eager)
    if columnar and eager:
        out.count()
    if held is not None:
        held.append((out, columnar))
    return out


def release(df: DataFrame) -> None:
    """Release ``df`` before its scope exits; nothing may read it after."""
    held = _SCOPE.get()
    _release(*held.pop(next(i for i, (f, _) in enumerate(held) if f is df)))


def _release(df: DataFrame, columnar: bool) -> None:
    if columnar:
        df.unpersist()
    else:
        # a checkpoint's plan is a LogicalRDD over the stored RDD, which
        # df.unpersist() does not reach
        df._jdf.queryExecution().logical().rdd().unpersist(True)


@contextlib.contextmanager
def scope() -> Iterator[None]:
    """Hold every frame materialized inside the block; release on exit."""
    held: list[tuple[DataFrame, bool]] = []
    token = _SCOPE.set(held)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        while held:
            _release(*held.pop())

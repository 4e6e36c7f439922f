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

:func:`overlapped` runs independent chains of actions on driver threads
so that their Spark jobs share the executors. Each thread starts from the
caller's Spark local properties and in a copy of its context, so its jobs
are attributed, and its frames held, as the caller's would be.
"""

from __future__ import annotations

import contextlib
import contextvars
import functools
from collections.abc import Iterator
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from uuid import uuid4

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

#: (frame, columnar) pairs held by the innermost open scope; None outside
_SCOPE = contextvars.ContextVar("materialize_scope", default=None)


def materialize(df: DataFrame, *, eager: bool = True,
                columnar: bool = False) -> DataFrame:
    """``df`` stored once for its consumers: computed now when ``eager``,
    otherwise filled by the first action that reads it. Under AQE that
    lazy form still runs the plan's shuffle and broadcast query stages at
    this call; only the final stage waits for the action. (A
    ``countDistinct`` aggregate runs 2 jobs here and 1 at the action with
    AQE on, 0 and 1 with it off.) ``columnar`` asks for the
    cached-relation form, which holds only inside a scope."""
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


def overlapped(spark: SparkSession, *fns):
    """Run ``fns`` on driver threads; return their results in order.

    Each thread starts from the caller's Spark local properties (job
    group, description, job tags) and session tags, copied here on the
    caller's thread, so its jobs are attributed as the caller's would be.
    It also runs in a copy of the caller's context, so the frames it
    materializes belong to the caller's :func:`scope`.

    Their Spark jobs also carry one shared job tag. The first failure
    cancels the other threads' running jobs through that tag instead of
    waiting for them to finish, then is raised together with any other
    thread's own failure (an ``ExceptionGroup`` when there are several).
    A sibling whose job was only cancelled adds nothing to the report."""
    sc = spark.sparkContext
    tag = f"overlapped-{uuid4().hex}"

    def tagged(fn):
        sc.addJobTag(tag)
        try:
            return fn()
        finally:
            sc.removeJobTag(tag)

    # one wrap per thread: each gets its own copy of the properties
    targets = [inheritable_thread_target(spark)(functools.partial(tagged, fn))
               for fn in fns]
    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futures = [pool.submit(contextvars.copy_context().run, target)
                   for target in targets]
        done, pending = wait(futures, return_when=FIRST_EXCEPTION)
        failed = [f for f in futures if f in done and f.exception()]
        if failed and pending:
            sc.cancelJobsWithTag(tag)
    # leaving the block joined the siblings; a cancelled job ends at once
    errors = [f.exception() for f in failed] + [
        e for f in futures if f in pending and (e := f.exception())
        and tag not in str(e)]
    if len(errors) > 1:
        raise ExceptionGroup("overlapped driver jobs failed", errors)
    if errors:
        raise errors[0]
    return [f.result() for f in futures]

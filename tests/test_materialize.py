from __future__ import annotations

import ast
import sys
from concurrent.futures import ThreadPoolExecutor
from contextvars import copy_context
from pathlib import Path
from uuid import uuid4

import pytest

from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark import materialize as mat


def _state(spark):
    """(persistent RDD ids, cache manager empty) of the session."""
    ids = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    return ids, spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _frame(spark, k):
    return spark.range(200).selectExpr(f"id * {k} AS x")


def _fill(spark, k=2):
    """One frame of each form and eagerness, all read once. The cache
    manager keys a cached relation by its plan, so fills that must stay
    apart take different ``k``."""
    frames = [mat.materialize(_frame(spark, k)),
              mat.materialize(_frame(spark, k + 1), eager=False),
              mat.materialize(_frame(spark, k + 2), eager=False,
                              columnar=True)]
    for f in frames:
        assert f.count() == 200
    return frames


def test_package_stores_frames_only_through_materialize():
    """Only the helper module checkpoints, caches or unpersists a frame;
    every other module stores its intermediates through materialize()."""
    pkg = Path(mat.__file__).parent
    calls = {"localCheckpoint", "persist", "cache", "unpersist"}
    found = []
    for path in pkg.rglob("*.py"):
        if path == Path(mat.__file__):
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in calls):
                found.append(f"{path.name}:{node.lineno} {node.func.attr}")
    assert found == []


def test_scope_releases_on_exit_and_on_exception(spark):
    """A scope's frames leave no persistent RDD and no cached relation
    behind, whether the body returns or raises."""
    spark.catalog.clearCache()
    entry = _state(spark)
    with mat.scope():
        _fill(spark)
        assert not _state(spark)[1]        # the columnar form is cached
    assert _state(spark) == entry
    with pytest.raises(RuntimeError):
        with mat.scope():
            _fill(spark)
            raise RuntimeError("body failed")
    assert _state(spark) == entry


def test_nested_scope_releases_only_its_own_frames(spark):
    spark.catalog.clearCache()
    entry = _state(spark)
    with mat.scope():
        outer = _fill(spark)
        mid = _state(spark)
        with mat.scope():
            _fill(spark, k=5)
        assert _state(spark) == mid
        assert [f.count() for f in outer] == [200, 200, 200]
    assert _state(spark) == entry


def test_inner_scope_leaves_an_outer_cached_plan_cached(spark):
    """The cache manager keys a cached relation by its plan: an inner
    scope that materializes a plan the outer scope already cached reads
    the outer cache and does not release it on exit."""
    spark.catalog.clearCache()
    entry = _state(spark)
    with mat.scope():
        outer = mat.materialize(_frame(spark, 17), columnar=True)
        mid = _state(spark)
        assert len(mid[0]) == len(entry[0]) + 1
        with mat.scope():
            inner = mat.materialize(_frame(spark, 17), columnar=True)
            assert inner.count() == 200
        assert _state(spark) == mid
        assert outer.count() == 200
    assert _state(spark) == entry


def test_release_frees_one_frame_before_the_scope_exits(spark):
    spark.catalog.clearCache()
    entry = _state(spark)
    with mat.scope():
        ckpt, lazy, cached = _fill(spark)
        mat.release(cached)
        assert _state(spark)[1]
        mat.release(ckpt)
        assert [(id(f), c) for f, c in mat._SCOPE.get()] == [(id(lazy), False)]
        assert lazy.count() == 200
    assert _state(spark) == entry


def test_overlapped_threads_register_in_the_callers_scope(spark):
    spark.catalog.clearCache()
    entry = _state(spark)
    with mat.scope():
        a, b = mat.overlapped(
            spark,
            lambda: mat.materialize(_frame(spark, 7)),
            lambda: mat.materialize(_frame(spark, 11), columnar=True))
        assert {id(f) for f, _ in mat._SCOPE.get()} == {id(a), id(b)}
    assert _state(spark) == entry


def test_overlapped_jobs_land_in_the_callers_job_group(spark):
    """The threads start from the caller's local properties: every job
    they run is in the caller's job group, as when run in sequence."""
    sc = spark.sparkContext
    fns = (lambda: spark.range(100).count(),
           lambda: spark.range(50).selectExpr("id % 7 AS k").distinct().collect())
    jobs = {}
    for label, run in (("sequential", lambda: [fn() for fn in fns]),
                       ("overlapped", lambda: mat.overlapped(spark, *fns))):
        group = f"{label}-{uuid4().hex}"
        sc.setJobGroup(group, label)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs[label] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs["overlapped"] == jobs["sequential"] > 0, jobs


def test_scope_keeps_every_registration_from_many_threads(spark):
    """More threads than cores registering at once, with a short switch
    interval: the scope holds every frame, and releases them all."""
    spark.catalog.clearCache()
    entry = _state(spark)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with mat.scope():
            with ThreadPoolExecutor(max_workers=16) as pool:
                futures = [pool.submit(copy_context().run, mat.materialize,
                                       _frame(spark, k), eager=False)
                           for k in range(64)]
                frames = [f.result(timeout=120) for f in futures]
            assert {id(f) for f, _ in mat._SCOPE.get()} == set(map(id, frames))
    finally:
        sys.setswitchinterval(old)
    assert _state(spark) == entry


def test_columnar_request_outside_a_scope_is_not_cached(spark):
    """With no scope to release it, a columnar request takes the
    checkpoint form: the cache manager stays empty."""
    spark.catalog.clearCache()
    assert mat._SCOPE.get() is None
    df = mat.materialize(_frame(spark, 13), eager=False, columnar=True)
    assert df.count() == 200
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert not df.is_cached

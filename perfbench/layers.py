"""Per-layer instrumentation of the repo's modules and the traced-run report.

``install`` wraps the public functions below where their callers look them
up; ``report`` turns the spans, the Spark event log and the traced pass's
outputs into the per-layer metrics (``PER_LAYER``: name -> unit). Every
metric is reported on every workload; a layer a workload does not exercise
reads 0.
"""

from __future__ import annotations

import glob
import os

import spans

PKG = "music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark"

PIPELINE_STAGES = ("discover_new_files", "validate_batch", "transform", "load_kv")
EXEC_SPANS = ("pipeline.validate_batch", "pipeline.transform", "pipeline.load_kv",
              "pipeline.process_stream_batch", "query.build", "query.exec")
# Spans that only sequence named stages: their self time is not attributed
# to any layer (trace.coverage counts it as uncovered), nor is the phase
# probe, which the tracer itself adds.
CONTAINERS = {"pipeline.run_once", "pipeline.process_stream_batch",
              "trace.phase_probe"}
FILESTREAM = {"latest_offset_s": "latestOffset", "get_batch_s": "getBatch",
              "add_batch_s": "addBatch", "wal_commit_s": "walCommit",
              "commit_offsets_s": "commitOffsets"}
EXEC_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
              "task_run_s": "s", "task_cpu_s": "s", "gc_s": "s",
              "input_bytes": "bytes", "shuffle_read_bytes": "bytes",
              "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
              "task_skew": "ratio"}


def _per_layer() -> dict[str, str]:
    m: dict[str, str] = {}
    for f in PIPELINE_STAGES:
        m.update({f"pipeline.{f}.s": "s", f"pipeline.{f}.calls": "count",
                  f"pipeline.{f}.jobs": "count", f"pipeline.{f}.driver_gap_s": "s"})
    m.update({"pipeline.run_once.self_s": "s",
              "pipeline.process_stream_batch.s": "s",
              "pipeline.process_stream_batch.calls": "count"})
    for f in ("try_claim", "mark_processed"):
        m.update({f"ledger.{f}.s": "s", f"ledger.{f}.calls": "count"})
    for k in ("validated_streams", "validated_dims", "processed"):
        m[f"io.write_parquet.{k}.s"] = "s"
    m.update({"io.write_quarantine.s": "s", "io.archive_files.s": "s"})
    for k in ("validated", "processed", "quarantine"):
        m[f"io.bytes_written.{k}"] = "bytes"
    m["io.write_amp"] = "ratio"
    m.update({"validate.rows_good": "count", "validate.rows_bad": "count"})
    m.update({"kvstore.write_dataframe.s": "s", "kvstore.write_dataframe.items": "count",
              "kvstore.write_dataframe.items_per_s": "1/s",
              "kvstore.write_dataframe.wait_s": "s", "kvstore.bytes": "bytes"})
    for k in FILESTREAM:
        m[f"filestream.{k}"] = "s"
    m["filestream.batches"] = "count"
    m.update({"catalog.load_table.s": "s", "catalog.load_table.calls": "count",
              "catalog.load_table.jobs": "count"})
    m.update({"query.build_s": "s", "query.build_jobs": "count",
              "query.exec_s": "s", "query.exec_jobs": "count",
              "query.analysis_s": "s", "query.optimization_s": "s",
              "query.planning_s": "s"})
    for name in EXEC_SPANS:
        for k, unit in EXEC_UNITS.items():
            m[f"{name}.exec.{k}"] = unit
    m.update({"session.get_spark_s": "s", "trace.coverage": "ratio",
              "trace.overhead_ratio": "ratio"})
    return m


PER_LAYER = _per_layer()


def make_tracer(spark) -> spans.Tracer:
    tracer = spans.Tracer()
    tracer.bind_spark(spark.sparkContext)
    return tracer


def _parquet_span(df, path, *args, **kwargs) -> str:
    p = str(path).replace(os.sep, "/")
    if "/validated/streams" in p:
        kind = "validated_streams"
    elif "/validated/" in p:
        kind = "validated_dims"
    elif "/processed/" in p:
        kind = "processed"
    elif "/bad-records/" in p:
        kind = "quarantine"
    else:
        kind = "other"
    return f"io.write_parquet.{kind}"


def install(tracer: spans.Tracer, spark) -> spans.Patcher:
    """Wrap the layer entry points; return the patcher that undoes it."""
    import importlib

    pipeline = importlib.import_module(f"{PKG}.plans.pipeline")
    ledger = importlib.import_module(f"{PKG}.plans.ledger")
    kvstore = importlib.import_module(f"{PKG}.plans.kvstore")
    io = importlib.import_module(f"{PKG}.sources.io")
    catalog = importlib.import_module(f"{PKG}.sources.catalog")

    patcher = spans.Patcher()

    def keep_counts(rec, result):
        rec["attrs"]["counts"] = result[1]

    for m in PIPELINE_STAGES + ("run_once", "process_stream_batch"):
        patcher.set(pipeline.Pipeline, m, spans.traced(
            tracer, getattr(pipeline.Pipeline, m), f"pipeline.{m}",
            keep_counts if m == "validate_batch" else None))
    for m in ("try_claim", "mark_processed"):
        patcher.set(ledger.Ledger, m, spans.traced(
            tracer, getattr(ledger.Ledger, m), f"ledger.{m}"))
    prefixes = (PKG, "__spark_entry__")
    for fn, namer in ((io.write_parquet, _parquet_span),
                      (io.write_quarantine, "io.write_quarantine"),
                      (io.archive_files, "io.archive_files"),
                      (kvstore.write_dataframe, "kvstore.write_dataframe"),
                      (catalog.load_table, "catalog.load_table")):
        spans.patch_everywhere(patcher, fn, spans.traced(tracer, fn, namer), prefixes)
    return patcher


def traced_query(tracer: spans.Tracer, spark, fn, lake: str, name: str) -> None:
    """Build (span ``query.build``), run to the noop sink (``query.exec``),
    then read the Catalyst phase times of the built frame's own plan."""
    with tracer.span("query.build", query=name):
        df = fn(spark, lake)
    with tracer.span("query.exec", query=name):
        df.write.format("noop").mode("overwrite").save()
    with tracer.span("trace.phase_probe", query=name) as rec:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            rec["attrs"][phase] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0


def _event_log(run) -> dict:
    sc = run.spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    app = sc.applicationId
    paths = glob.glob(os.path.join(run.work, "eventlog", f"{app}*"))
    if len(paths) != 1:
        raise RuntimeError(f"event log for {app}: {paths}")
    return spans.read_event_log(paths[0])


def report(run, tracer: spans.Tracer, res: dict, untraced_wall: float, *,
           raw_bytes: int | None) -> dict[str, float]:
    """Per-layer metrics of the traced pass ``res``; ``untraced_wall`` is the
    wall of the same pass with tracing off."""
    sp = tracer.spans
    log = _event_log(run)
    selfs = spans.self_times(sp)
    m = {name: 0.0 for name in PER_LAYER}

    def group(name):
        outer = spans.outermost(sp, name)
        ids = set().union(*[spans.subtree_ids(sp, s) for s in outer]) if outer else set()
        return outer, ids

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    for f in PIPELINE_STAGES:
        outer, ids = group(f"pipeline.{f}")
        m[f"pipeline.{f}.s"] = dur(outer)
        m[f"pipeline.{f}.calls"] = len(outer)
        m[f"pipeline.{f}.jobs"] = spans.exec_totals(log, ids)["jobs"]
        m[f"pipeline.{f}.driver_gap_s"] = sum(
            spans.job_gap(log, s, spans.subtree_ids(sp, s)) for s in outer)
    m["pipeline.run_once.self_s"] = sum(selfs[s["id"]] for s in sp
                                        if s["name"] == "pipeline.run_once")
    outer, _ = group("pipeline.process_stream_batch")
    m["pipeline.process_stream_batch.s"] = dur(outer)
    m["pipeline.process_stream_batch.calls"] = len(outer)
    for f in ("try_claim", "mark_processed"):
        outer, _ = group(f"ledger.{f}")
        m[f"ledger.{f}.s"], m[f"ledger.{f}.calls"] = dur(outer), len(outer)
    for k in ("validated_streams", "validated_dims", "processed"):
        m[f"io.write_parquet.{k}.s"] = dur(group(f"io.write_parquet.{k}")[0])
    m["io.write_quarantine.s"] = dur(group("io.write_quarantine")[0])
    m["io.archive_files.s"] = dur(group("io.archive_files")[0])
    lake_bytes = res.get("bytes")
    if lake_bytes:
        for k in ("validated", "processed", "quarantine"):
            m[f"io.bytes_written.{k}"] = lake_bytes[k]
        m["io.write_amp"] = sum(lake_bytes.values()) / raw_bytes
        m["kvstore.bytes"] = lake_bytes["kv"]
    for s in group("pipeline.validate_batch")[0]:
        for good, bad in s["attrs"].get("counts", {}).values():
            m["validate.rows_good"] += good
            m["validate.rows_bad"] += bad

    outer, ids = group("kvstore.write_dataframe")
    m["kvstore.write_dataframe.s"] = dur(outer)
    kv_exec = spans.exec_totals(log, ids)
    m["kvstore.write_dataframe.wait_s"] = kv_exec["task_run_s"] - kv_exec["task_cpu_s"]
    if outer:
        m["kvstore.write_dataframe.items"] = res["kv_items"]
        m["kvstore.write_dataframe.items_per_s"] = (
            res["kv_items"] / m["kvstore.write_dataframe.s"])

    for p in res.get("progress", []):
        for k, key in FILESTREAM.items():
            m[f"filestream.{k}"] += p["durationMs"].get(key, 0) / 1000.0
        m["filestream.batches"] += 1

    outer, ids = group("catalog.load_table")
    m["catalog.load_table.s"], m["catalog.load_table.calls"] = dur(outer), len(outer)
    m["catalog.load_table.jobs"] = spans.exec_totals(log, ids)["jobs"]
    for short, name in (("build", "query.build"), ("exec", "query.exec")):
        outer, ids = group(name)
        m[f"query.{short}_s"] = dur(outer)
        m[f"query.{short}_jobs"] = spans.exec_totals(log, ids)["jobs"]
    for s in group("trace.phase_probe")[0]:
        for phase in ("analysis", "optimization", "planning"):
            m[f"query.{phase}_s"] += s["attrs"][phase]

    for name in EXEC_SPANS:
        _, ids = group(name)
        for k, v in spans.exec_totals(log, ids).items():
            m[f"{name}.exec.{k}"] = v

    root = res["root"]
    m["trace.coverage"] = spans.coverage(sp, root["id"], CONTAINERS)
    m["trace.overhead_ratio"] = res["wall_s"] / untraced_wall
    run.record["spans"] = sp
    return m

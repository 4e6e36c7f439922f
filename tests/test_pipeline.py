from __future__ import annotations

import os
import re
import shutil
import time
from collections import Counter
from contextlib import contextmanager
from uuid import uuid4

import pytest

from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.plans.kvstore import (
    TABLE_COL,
    KVStore,
    write_partition,
)
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.plans.ledger import Ledger
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.plans.pipeline import (
    KPI_TABLE,
    TOP_GENRES_TABLE,
    TOP_SONGS_TABLE,
    Pipeline,
    PipelineConfig,
    route_reject_if_any_bad,
)
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import kpi, topk
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.sources import io as lake_io

SONGS_CSV = (
    "track_id,track_name,track_genre,duration_ms\n"
    "t1,Alpha,rock,200000\n"
    "t2,Beta,rock,100000\n"
    "t3,Gamma,jazz,300000\n"
)

USERS_CSV = (
    "user_id,user_name,user_age,user_country,created_at\n"
    "u1,Ada,30,DE,2023-01-01T00:00:00\n"
    "u2,Ben,25,US,2023-02-01T00:00:00\n"
    "u3,Cam,,FR,2023-03-01T00:00:00\n"   # null age -> quarantine
)

STREAMS_1 = (
    "user_id,track_id,listen_time\n"
    "u1,t1,2024-01-01T10:00:00\n"
    "u1,t1,2024-01-01T11:00:00\n"
    "u2,t2,2024-01-01T12:00:00\n"
    "u3,t3,2024-01-02T09:00:00\n"
    ",t1,2024-01-02T09:30:00\n"      # null user_id -> quarantine
)

STREAMS_2 = (
    "user_id,track_id,listen_time\n"
    "u4,t2,2024-01-03T08:00:00\n"
)


@pytest.fixture()
def lake(tmp_path):
    base = tmp_path / "lake"
    (base / "raw" / "streams").mkdir(parents=True)
    (base / "raw" / "songs").mkdir(parents=True)
    (base / "raw" / "songs" / "songs.csv").write_text(SONGS_CSV)
    (base / "raw" / "users").mkdir(parents=True)
    (base / "raw" / "users" / "users.csv").write_text(USERS_CSV)
    f1 = base / "raw" / "streams" / "streams1.csv"
    f1.write_text(STREAMS_1)
    os.utime(f1, (1000, 1000))  # oldest
    f2 = base / "raw" / "streams" / "streams2.csv"
    f2.write_text(STREAMS_2)
    os.utime(f2, (2000, 2000))
    return base


def test_kvstore_roundtrip(tmp_path):
    kv = KVStore(str(tmp_path / "kv.db"))
    kv.ensure_table("T", hash_key="pk", range_key="sk")
    kv.put_item("T", {"pk": "a", "sk": "b", "v": 1})
    kv.put_item("T", {"pk": "a", "sk": "b", "v": 2})  # upsert, not append
    assert kv.count("T") == 1
    assert kv.get_item("T", "a", "b")["v"] == 2
    kv.update_item("T", "a", {"v": 3}, range_value="b")
    assert kv.get_item("T", "a", "b")["v"] == 3


def test_write_partition_dispatches_rows_by_table(tmp_path):
    """One partition carrying rows of all three KV tables gives the same
    items as three single-table writes (30 KPI rows cross a 25-item
    batch)."""
    keys = {KPI_TABLE: ("date", "genre"), TOP_SONGS_TABLE: ("date", "genre_track"),
            TOP_GENRES_TABLE: ("date", "genre")}
    tables = {KPI_TABLE: ["date", "genre", "listen_count"],
              TOP_SONGS_TABLE: ["date", "genre_track", "rank"],
              TOP_GENRES_TABLE: ["date", "genre", "rank"]}
    rows = {KPI_TABLE: [(f"2024-01-{d:02d}", "rock", d) for d in range(1, 31)],
            TOP_SONGS_TABLE: [("2024-01-01", "rock#Alpha", 1),
                              ("2024-01-01", "rock#Beta", 2)],
            TOP_GENRES_TABLE: [("2024-01-01", "rock", 1), ("2024-01-01", "jazz", 2)]}

    def store(name):
        kv = KVStore(str(tmp_path / name))
        for t, (hk, rk) in keys.items():
            kv.ensure_table(t, hash_key=hk, range_key=rk)
        return kv

    single = store("single.db")
    for t, cols in tables.items():
        write_partition(rows[t], single.path, {t: cols}, cols)

    columns = ["date", "genre", "listen_count", "genre_track", "rank", TABLE_COL]
    mixed = []
    for i in range(30):   # interleave the tables within the partition
        for t, cols in tables.items():
            if i < len(rows[t]):
                item = dict(zip(cols, rows[t][i]))
                mixed.append(tuple(item.get(c) for c in columns[:-1]) + (t,))
    multi = store("multi.db")
    write_partition(mixed, multi.path, tables, columns)

    for t in tables:
        assert sorted(multi.scan(t), key=repr) == sorted(single.scan(t), key=repr)
        assert multi.count(t) == len(rows[t])


def test_ledger_idempotent(tmp_path):
    led = Ledger(KVStore(str(tmp_path / "kv.db")))
    assert led.try_claim("f.csv") is True
    assert led.try_claim("f.csv") is False   # same file twice -> second skipped
    led.mark_processed("f.csv")
    assert led.try_claim("f.csv") is False
    statuses = {e["filename"]: e["status"] for e in led.entries()}
    assert statuses == {"f.csv": "processed"}


def test_pipeline_end_to_end(spark, lake):
    pipe = Pipeline(spark, PipelineConfig(base_dir=str(lake)))
    done = pipe.run_all()
    assert done == ["streams1.csv", "streams2.csv"]  # oldest first

    # archive: raw emptied, archive populated (S12)
    assert os.listdir(lake / "raw" / "streams") == []
    assert sorted(os.listdir(lake / "archive" / "streams")) == ["streams1.csv", "streams2.csv"]

    # quarantine captured the null-user row (S9)
    bad = spark.read.parquet(str(lake / "bad-records" / "streams"))
    assert bad.count() == 1

    # three-table validation (REF/glue_jobs/validate.py:53-67): validated
    # parquet per table, quarantine per table with bad rows
    assert spark.read.parquet(str(lake / "validated" / "streams")).count() == 5
    assert spark.read.parquet(str(lake / "validated" / "songs")).count() == 3
    users_ok = spark.read.parquet(str(lake / "validated" / "users"))
    assert {r["user_id"] for r in users_ok.collect()} == {"u1", "u2"}
    bad_users = spark.read.parquet(str(lake / "bad-records" / "users"))
    assert [r["user_id"] for r in bad_users.collect()] == ["u3"]

    # partitioned parquet layout as documented (README.md:193, SURVEY.md §1.4)
    avg_dir = lake / "processed" / "avg_metrics"
    assert any(d.startswith("listen_date=") for d in os.listdir(avg_dir))

    # KV contents: KPIs for 2024-01-01 rock = 3 plays, 2 unique users
    kv = pipe.store
    item = kv.get_item(KPI_TABLE, "2024-01-01", "rock")
    assert item["listen_count"] == 3 and item["unique_listeners"] == 2
    assert item["total_listening_time"] == 500000.0
    assert item["avg_listen_time_per_user"] == 250000.0
    assert kv.count(TOP_SONGS_TABLE) > 0 and kv.count(TOP_GENRES_TABLE) > 0
    # composite genre_track key (F9)
    assert kv.get_item(TOP_SONGS_TABLE, "2024-01-01", "rock#Alpha")["rank"] == 1

    # re-running with nothing new is a no-op (ledger idempotency)
    assert pipe.run_all() == []


def test_pipeline_second_run_overwrites_partition_only(spark, lake):
    """Dynamic partition overwrite: reprocessing a late file for one date must
    not clobber other dates' partitions."""
    pipe = Pipeline(spark, PipelineConfig(base_dir=str(lake)))
    pipe.run_once()  # streams1: dates 01-01, 01-02
    d1 = set(os.listdir(lake / "processed" / "avg_metrics"))
    pipe.run_once()  # streams2: date 01-03 only
    d2 = set(os.listdir(lake / "processed" / "avg_metrics"))
    assert {d for d in d1 if d.startswith("listen_date=")} <= d2
    assert "listen_date=2024-01-03" in d2


def test_pipeline_validation_routing_rejects(spark, lake):
    """branch_on_validation made real (REF DAG :65-67,105-110 is an
    always-continue stub): a strict router stops batches with quarantined
    rows — ledger shows 'rejected', raw file retained, no transform output —
    while clean batches still flow."""
    cfg = PipelineConfig(base_dir=str(lake),
                         on_validation_result=route_reject_if_any_bad)
    pipe = Pipeline(spark, cfg)
    done = pipe.run_all()
    # streams1 has a bad row (and users.csv always has one) -> both rejected
    # under the strict policy; nothing processes.
    assert done == []
    statuses = {e["filename"]: e["status"] for e in pipe.ledger.entries()}
    assert statuses == {"streams1.csv": "rejected", "streams2.csv": "rejected"}
    # rejected files stay in raw as evidence, nothing archived or processed
    assert sorted(os.listdir(lake / "raw" / "streams")) == [
        "streams1.csv", "streams2.csv"]
    assert not os.path.isdir(lake / "processed" / "avg_metrics")
    # rejected is terminal: a rerun never re-claims
    assert pipe.run_all() == []


def test_pipeline_cumulative_mode_merges_shared_dates(spark, lake):
    """Default granularity = the reference's last-file-wins on a shared
    listen_date; cumulative=True recomputes the affected dates from the
    (partition-pruned) validated lake so shared-date KPIs stay consistent."""
    f3 = lake / "raw" / "streams" / "streams3.csv"
    f3.write_text("user_id,track_id,listen_time\nu7,t1,2024-01-01T14:00:00\n")
    os.utime(f3, (3000, 3000))

    # default: streams3 (1 row for 2024-01-01) REPLACES that date's KPIs
    pipe = Pipeline(spark, PipelineConfig(base_dir=str(lake)))
    pipe.run_all()
    item = pipe.store.get_item(KPI_TABLE, "2024-01-01", "rock")
    assert (item["listen_count"], item["unique_listeners"]) == (1, 1)

    # cumulative: the date reflects streams1 (3 rock rows) + streams3 (1)
    import shutil
    shutil.rmtree(lake)  # rebuild the lake fixture fresh
    (lake / "raw" / "streams").mkdir(parents=True)
    (lake / "raw" / "songs").mkdir(parents=True)
    (lake / "raw" / "songs" / "songs.csv").write_text(SONGS_CSV)
    for name, body, mtime in [("streams1.csv", STREAMS_1, 1000),
                              ("streams2.csv", STREAMS_2, 2000)]:
        p = lake / "raw" / "streams" / name
        p.write_text(body)
        os.utime(p, (mtime, mtime))
    f3 = lake / "raw" / "streams" / "streams3.csv"
    f3.write_text("user_id,track_id,listen_time\nu7,t1,2024-01-01T14:00:00\n")
    os.utime(f3, (3000, 3000))

    pipe = Pipeline(spark, PipelineConfig(base_dir=str(lake), cumulative=True))
    pipe.run_all()
    item = pipe.store.get_item(KPI_TABLE, "2024-01-01", "rock")
    assert (item["listen_count"], item["unique_listeners"]) == (4, 3)
    # untouched dates keep their aggregates
    assert pipe.store.get_item(KPI_TABLE, "2024-01-03", "rock")["listen_count"] == 1


def test_pipeline_streaming_end_to_end_exactly_once(spark, lake):
    """SURVEY §2.9 closed loop: csv_file_stream → run_available_now →
    foreachBatch = validate+transform+KV load, checkpoint as the ledger.
    Restarting over the same checkpoint reprocesses nothing (KV and the
    validated lake are byte-stable); a late-arriving file gets exactly one
    micro-batch."""
    pipe = Pipeline(spark, PipelineConfig(base_dir=str(lake)))
    pipe.run_streaming()

    # both files drained through the full pipeline
    assert spark.read.parquet(str(lake / "validated" / "streams")).count() == 5
    item = pipe.store.get_item(KPI_TABLE, "2024-01-01", "rock")
    assert item["listen_count"] == 3 and item["unique_listeners"] == 2
    assert pipe.store.get_item(KPI_TABLE, "2024-01-03", "rock")["listen_count"] == 1
    kv_before = {t: pipe.store.scan(t) for t in
                 (KPI_TABLE, TOP_SONGS_TABLE, TOP_GENRES_TABLE)}

    # restart over the same checkpoint: exactly-once -> nothing replays
    pipe.run_streaming()
    assert spark.read.parquet(str(lake / "validated" / "streams")).count() == 5
    assert {t: pipe.store.scan(t) for t in kv_before} == kv_before

    # a late file is processed exactly once, existing dates untouched
    f3 = lake / "raw" / "streams" / "streams3.csv"
    f3.write_text("user_id,track_id,listen_time\nu9,t3,2024-01-04T12:00:00\n")
    os.utime(f3, (3000, 3000))
    pipe.run_streaming()
    assert spark.read.parquet(str(lake / "validated" / "streams")).count() == 6
    assert pipe.store.get_item(KPI_TABLE, "2024-01-04", "jazz")["listen_count"] == 1
    assert pipe.store.get_item(KPI_TABLE, "2024-01-01", "rock") == item


def test_pipeline_routing_counts_surface(spark, lake):
    """The router sees real per-table (good, bad) counts."""
    seen = {}

    def spy(counts):
        seen.update(counts)
        return True

    pipe = Pipeline(spark, PipelineConfig(base_dir=str(lake),
                                          on_validation_result=spy))
    pipe.run_once()  # streams1
    assert seen["streams"] == (4, 1)
    assert seen["songs"] == (3, 0)
    assert seen["users"] == (2, 1)


def _lake_outputs(spark, base):
    """(columns, row multiset) of every table under validated/,
    bad-records/ and processed/."""
    out = {}
    for top in ("validated", "bad-records", "processed"):
        for name in os.listdir(base / top):
            df = spark.read.parquet(str(base / top / name))
            out[f"{top}/{name}"] = (df.columns, Counter(map(tuple, df.collect())))
    return out


def test_batch_and_streaming_drivers_agree(spark, lake, tmp_path):
    """Both drivers run the same stage body, so draining two copies of one
    lake, one with run_all and one with run_streaming, gives the same
    validated, quarantined and processed rows and the same KV items."""
    twin = tmp_path / "twin"
    shutil.copytree(lake, twin)
    batch = Pipeline(spark, PipelineConfig(base_dir=str(lake)))
    batch.run_all()
    stream = Pipeline(spark, PipelineConfig(base_dir=str(twin)))
    stream.run_streaming()

    got = _lake_outputs(spark, twin)
    assert sorted(got) == [
        "bad-records/streams", "bad-records/users",
        "processed/avg_metrics", "processed/top_genres", "processed/top_songs",
        "validated/songs", "validated/streams", "validated/users"]
    assert got == _lake_outputs(spark, lake)
    for t in (KPI_TABLE, TOP_SONGS_TABLE, TOP_GENRES_TABLE):
        assert sorted(stream.store.scan(t), key=repr) == \
            sorted(batch.store.scan(t), key=repr)


def test_streaming_router_rejects(spark, lake):
    """The streaming driver applies the router too: under the strict policy
    every micro-batch (users.csv always has a bad row) stops after
    validation, with no processed output and no KV items."""
    pipe = Pipeline(spark, PipelineConfig(base_dir=str(lake),
                                          on_validation_result=route_reject_if_any_bad))
    pipe.run_streaming()
    assert spark.read.parquet(str(lake / "validated" / "streams")).count() == 5
    assert not os.path.isdir(lake / "processed")
    assert [pipe.store.count(t) for t in
            (KPI_TABLE, TOP_SONGS_TABLE, TOP_GENRES_TABLE)] == [0, 0, 0]


def test_unchanged_dimensions_are_not_revalidated(spark, lake, monkeypatch):
    """The second file reuses the songs/users snapshots validated for the
    first: no raw dimension CSV is read again, and the router still sees
    the first file's dimension counts."""
    reads = []
    read_csv = lake_io.read_csv

    def spy(spark_, path, *args, **kwargs):
        reads.append(str(path))
        return read_csv(spark_, path, *args, **kwargs)

    monkeypatch.setattr(lake_io, "read_csv", spy)
    seen = []
    pipe = Pipeline(spark, PipelineConfig(
        base_dir=str(lake), on_validation_result=lambda c: seen.append(dict(c)) or True))
    pipe.run_once()
    assert {os.path.basename(p) for p in reads} == {"streams1.csv", "songs", "users"}
    first = len(reads)
    pipe.run_once()
    assert reads[first:] == [str(lake / "raw" / "streams" / "streams2.csv")]
    assert seen[1]["songs"] == seen[0]["songs"] == (3, 0)
    assert seen[1]["users"] == seen[0]["users"] == (2, 1)
    assert seen[1]["streams"] == (1, 0)
    # the second file joined against the reused songs snapshot
    assert pipe.store.get_item(KPI_TABLE, "2024-01-03", "rock")["listen_count"] == 1


def test_rewritten_dimension_is_revalidated(spark, lake):
    """songs.csv rewritten between two files (t2 moves from rock to pop,
    and a row without a genre arrives): the next file's KPIs and router
    counts come from the new songs file."""
    seen = []
    pipe = Pipeline(spark, PipelineConfig(
        base_dir=str(lake), on_validation_result=lambda c: seen.append(dict(c)) or True))
    pipe.run_once()
    (lake / "raw" / "songs" / "songs.csv").write_text(
        SONGS_CSV.replace("t2,Beta,rock", "t2,Beta,pop") + "t4,Delta,,1000\n")
    pipe.run_once()   # streams2: u4 plays t2 on 2024-01-03
    assert seen[1]["songs"] == (3, 1)
    assert seen[1]["users"] == seen[0]["users"]
    assert pipe.store.get_item(KPI_TABLE, "2024-01-03", "pop")["listen_count"] == 1
    assert pipe.store.get_item(KPI_TABLE, "2024-01-03", "rock") is None
    songs = spark.read.parquet(str(lake / "validated" / "songs"))
    assert {r["track_id"]: r["track_genre"] for r in songs.collect()} == {
        "t1": "rock", "t2": "pop", "t3": "jazz"}
    bad = spark.read.parquet(str(lake / "bad-records" / "songs"))
    assert [r["track_id"] for r in bad.collect()] == ["t4"]


def test_corrupt_rows_are_quarantined(spark, lake):
    """Rows that fail CSV type coercion (an unparseable listen_time, a
    non-integer duration_ms) land in bad-records with their raw line in
    _corrupt_record, never in validated/."""
    f1 = lake / "raw" / "streams" / "streams1.csv"
    f1.write_text(STREAMS_1 + "u2,t3,not-a-time\n")
    os.utime(f1, (1000, 1000))
    (lake / "raw" / "songs" / "songs.csv").write_text(
        SONGS_CSV + "t9,Omega,pop,not-a-number\n")
    Pipeline(spark, PipelineConfig(base_dir=str(lake))).run_all()

    def corrupt(name):
        bad = spark.read.parquet(str(lake / "bad-records" / name))
        return [r[lake_io.CORRUPT_COL] for r in bad.collect() if r[lake_io.CORRUPT_COL]]

    assert corrupt("streams") == ["u2,t3,not-a-time"]
    assert corrupt("songs") == ["t9,Omega,pop,not-a-number"]
    streams = spark.read.parquet(str(lake / "validated" / "streams"))
    songs = spark.read.parquet(str(lake / "validated" / "songs"))
    assert lake_io.CORRUPT_COL not in streams.columns + songs.columns
    assert streams.count() == 5 and streams.filter("listen_time IS NULL").count() == 0
    assert sorted(r["track_id"] for r in songs.collect()) == ["t1", "t2", "t3"]


@contextmanager
def _job_group(sc, label):
    """Run the block's Spark jobs under a fresh job group; yields its id."""
    group = f"{label}-{uuid4().hex}"
    sc.setJobGroup(group, label)
    try:
        yield group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_second_file_runs_fewer_spark_jobs(spark, lake, monkeypatch):
    """Per-file cost guard, as a host-independent job count: each file runs
    under its own job group. The first file validates songs and users (a
    validated write each, plus the users' quarantine write) and quarantines
    a streams row, at least four jobs; the second file reuses both
    snapshots and has no bad row, so it runs at least that many fewer
    jobs."""
    sc = spark.sparkContext
    groups = []
    process = Pipeline.process

    def per_file(self, streams_raw):
        with _job_group(sc, "pipeline-file") as group:
            groups.append(group)
            return process(self, streams_raw)

    monkeypatch.setattr(Pipeline, "process", per_file)
    assert Pipeline(spark, PipelineConfig(base_dir=str(lake))).run_all() == [
        "streams1.csv", "streams2.csv"]
    jobs = [len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups]
    assert jobs[0] > 0
    assert jobs[1] <= jobs[0] - 4, jobs


def _stage_job_groups(monkeypatch, sc):
    """Run every call of the three stages under its own job group; the
    returned list gets one (stage, group) pair per call, in call order."""
    calls = []
    for stage in ("validate_batch", "transform", "load_kv"):
        def grouped(self, *args, _fn=getattr(Pipeline, stage), _stage=stage):
            with _job_group(sc, _stage) as group:
                calls.append((_stage, group))
                return _fn(self, *args)
        monkeypatch.setattr(Pipeline, stage, grouped)
    return calls


def _python_jobs(spark, job_ids):
    """The jobs among ``job_ids`` with a stage that runs Python: a node of
    the stage's RDD operation graph is a ``PythonRDD`` (the RDD API's
    per-partition functions) or a Python, pandas or Arrow evaluation
    (UDFs)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    dot = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile

    def runs_python(stage):
        names = re.findall(r'label="([^"<]*)', dot(store.operationGraphForStage(stage)))
        return any(re.search(r"Python|Pandas|Arrow", n) for n in names)

    return [j for j in job_ids
            if any(map(runs_python, sc.statusTracker().getJobInfo(j).stageIds))]


def test_steady_state_file_job_budget(spark, lake, monkeypatch):
    """Jobs per stage of a steady-state file (the second: both dimension
    snapshots reused, no bad row), one job group per stage. Validate runs
    at most 2 jobs: the validated write also counts both sides, through an
    Observation. The transform runs at most 9, as when its two chains ran
    in sequence: running them on driver threads adds no job. The KV load
    runs 1, the driver's collect of the stored outputs, and no Python
    task. The first file
    validates all three tables, on concurrent threads, in 5 jobs: a
    validated write per table and the quarantine writes of streams and
    users."""
    sc = spark.sparkContext
    calls = _stage_job_groups(monkeypatch, sc)
    assert Pipeline(spark, PipelineConfig(base_dir=str(lake))).run_all() == [
        "streams1.csv", "streams2.csv"]
    assert [s for s, _ in calls] == ["validate_batch", "transform", "load_kv"] * 2
    first = {s: list(sc.statusTracker().getJobIdsForGroup(g)) for s, g in calls[:3]}
    assert len(first["validate_batch"]) == 5, first
    jobs = {s: list(sc.statusTracker().getJobIdsForGroup(g)) for s, g in calls[3:]}
    assert 1 <= len(jobs["validate_batch"]) <= 2, jobs
    assert len(jobs["transform"]) <= 9, jobs
    assert len(jobs["load_kv"]) == 1, jobs
    assert _python_jobs(spark, jobs["load_kv"]) == []


def test_failed_table_chain_fails_the_first_file(spark, lake, monkeypatch):
    """The first file validates its three tables on concurrent driver
    threads. When the users chain raises while the others run, run_once
    raises that error itself (the siblings' cancelled jobs add nothing),
    and nothing after validation runs: no KV item, no processed output,
    and the file is not marked processed."""
    class Injected(Exception):
        pass

    sc = spark.sparkContext
    validate_frame = Pipeline._validate_frame

    def failing(self, name, raw, *, mode):
        if name != "users":
            return validate_frame(self, name, raw, mode=mode)
        deadline = time.monotonic() + 30
        while not sc.statusTracker().getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.01)   # raise while a sibling's job runs
        raise Injected("users chain")

    monkeypatch.setattr(Pipeline, "_validate_frame", failing)
    pipe = Pipeline(spark, PipelineConfig(base_dir=str(lake)))
    with pytest.raises(Injected) as info:
        pipe.run_once()
    assert info.type is Injected
    assert [pipe.store.count(t) for t in (KPI_TABLE, TOP_SONGS_TABLE,
                                          TOP_GENRES_TABLE)] == [0, 0, 0]
    assert not (lake / "processed").exists()
    statuses = {e["filename"]: e["status"] for e in pipe.ledger.entries()}
    assert statuses.get("streams1.csv") != "processed"


def test_python_job_check_sees_a_task_side_write(spark):
    """The job budget's Python check flags a ``foreachPartition`` job and
    passes a plain collect."""
    sc = spark.sparkContext
    jobs = {}
    for name, action in [("python", lambda: spark.range(4).foreachPartition(lambda rows: None)),
                         ("sql", lambda: spark.range(4).collect())]:
        with _job_group(sc, name) as group:
            action()
        jobs[name] = list(sc.statusTracker().getJobIdsForGroup(group))
    assert _python_jobs(spark, jobs["python"]) == jobs["python"] != []
    assert _python_jobs(spark, jobs["sql"]) == []


def test_pipeline_top_genres_match_the_operator_on_ties(spark, tmp_path):
    """processed/top_genres, which the pipeline ranks from avg_metrics'
    play counts, equals ``topk.top_genres_per_day`` over the same joined
    rows. Genres tie on both days, k=3 cuts inside a tie, and one play has
    no song (the inner join drops it)."""
    base = tmp_path / "ties"
    (base / "raw" / "songs").mkdir(parents=True)
    (base / "raw" / "streams").mkdir(parents=True)
    genres = ["rock", "jazz", "pop", "folk", "blues"]
    (base / "raw" / "songs" / "songs.csv").write_text(
        "track_id,track_name,track_genre,duration_ms\n"
        + "".join(f"t{i},S{i},{g},1000\n" for i, g in enumerate(genres)))
    plays = {"2024-01-05": ["t0", "t0", "t1", "t1", "t2", "t3", "t4", "t9"],
             "2024-01-06": ["t2", "t2", "t2", "t3", "t3", "t3", "t0"]}
    (base / "raw" / "streams" / "s.csv").write_text(
        "user_id,track_id,listen_time\n" + "".join(
            f"u{n},{t},{d}T10:00:{n:02d}\n"
            for d, ts in plays.items() for n, t in enumerate(ts)))
    Pipeline(spark, PipelineConfig(base_dir=str(base), top_genres_k=3)).run_all()

    def rows(df):
        return sorted((str(r["listen_date"]), r["track_genre"], r["listen_count"],
                       r["rank"]) for r in df.collect())

    joined = kpi.join_streams_songs(
        spark.read.parquet(str(base / "validated" / "streams")),
        spark.read.parquet(str(base / "validated" / "songs")))
    expected = rows(topk.top_genres_per_day(joined, k=3))
    assert expected == [
        ("2024-01-05", "blues", 1, 3), ("2024-01-05", "jazz", 2, 1),
        ("2024-01-05", "rock", 2, 2), ("2024-01-06", "folk", 3, 1),
        ("2024-01-06", "pop", 3, 2), ("2024-01-06", "rock", 1, 3)]
    assert rows(spark.read.parquet(str(base / "processed" / "top_genres"))) == expected


def test_header_only_stream_file(spark, lake):
    """A stream file with a header and no rows: the validated write's
    Observation gives the router (0, 0) for streams, and the batch writes
    no KV item."""
    for f in (lake / "raw" / "streams").iterdir():
        f.unlink()
    (lake / "raw" / "streams" / "empty.csv").write_text("user_id,track_id,listen_time\n")
    seen = {}
    pipe = Pipeline(spark, PipelineConfig(
        base_dir=str(lake), on_validation_result=lambda c: seen.update(c) or True))
    assert pipe.run_once() == "empty.csv"
    assert seen == {"streams": (0, 0), "songs": (3, 0), "users": (2, 1)}
    assert [pipe.store.count(t) for t in
            (KPI_TABLE, TOP_SONGS_TABLE, TOP_GENRES_TABLE)] == [0, 0, 0]


def test_same_date_file_replaces_the_dates_kv_items(spark, lake):
    """A later file for a loaded date replaces that date's whole item set
    in each KV table, as it replaces the date's processed partition:
    streams3 plays only Beta on 2024-01-01, so rock#Alpha leaves
    TopSongsPerGenre. The dates streams3 does not touch keep their items."""
    f3 = lake / "raw" / "streams" / "streams3.csv"
    f3.write_text("user_id,track_id,listen_time\nu5,t2,2024-01-01T15:00:00\n")
    os.utime(f3, (3000, 3000))
    pipe = Pipeline(spark, PipelineConfig(base_dir=str(lake)))
    assert pipe.run_all() == ["streams1.csv", "streams2.csv", "streams3.csv"]

    top = spark.read.parquet(str(lake / "processed" / "top_songs"))
    assert [(r["track_genre"], r["track_name"], r["rank"]) for r in
            top.filter("listen_date = '2024-01-01'").collect()] == [("rock", "Beta", 1)]

    def items(table, date, key):
        return sorted((i[key], i.get("rank")) for i in pipe.store.scan(table)
                      if i["date"] == date)

    assert items(TOP_SONGS_TABLE, "2024-01-01", "genre_track") == [("rock#Beta", 1)]
    assert items(KPI_TABLE, "2024-01-01", "genre") == [("rock", None)]
    assert items(TOP_GENRES_TABLE, "2024-01-01", "genre") == [("rock", 1)]
    assert pipe.store.get_item(KPI_TABLE, "2024-01-01", "rock")["listen_count"] == 1
    assert items(TOP_SONGS_TABLE, "2024-01-02", "genre_track") == [("jazz#Gamma", 1)]
    assert items(TOP_SONGS_TABLE, "2024-01-03", "genre_track") == [("rock#Beta", 1)]

"""The end-to-end pipeline and its two drivers (SURVEY.md §3.1).

One synchronous, in-process run of the reference's DAG
(``REF/dags/music_etl_pipeline.py:142-145``):

    discover oldest unprocessed stream file      (:18-25, S6/O3)
    → ledger gate (skip if seen)                 (:34-45)
    → validate: split good/quarantine, persist   (validate.py, F4/S7/S9)
    → route: continue or reject the batch        (:65-67, 105-110)
    → transform: KPIs + top-k, partitioned write (transform.py:13-55)
    → KV load: three DynamoDB-shaped tables      (load_dynamo.py:157-173)
    → mark processed + archive                   (:47-63)

``Pipeline.process`` is the validate → route → transform → KV-load body.
The batch driver (``run_once``/``run_all``) wraps it in discovery, the
ledger gate and archiving; the streaming driver (``run_streaming``) calls
it once per micro-batch, with the checkpoint in place of the ledger.

Deliberate divergences from the reference (SURVEY.md §7 risk 4):
- stages run synchronously — the reference's ``trigger_glue_job`` is
  fire-and-forget (never polls GetJobRun), so its downstream stages can race
  upstream ones (``music_etl_pipeline.py:27-32``);
- transform output is partitioned by ``listen_date`` as documented
  (README.md:193) — the reference writes unpartitioned parquet that its own
  loader cannot discover (SURVEY.md §1.4);
- the joined frame is persisted across its 3-way fan-out — the reference
  recomputes scan+join per output (``transform.py:53-55``);
- validation and KV load are distributed Spark jobs, not single-process
  pandas/driver loops;
- PER-FILE aggregation granularity, faithfully kept BY DEFAULT:
  transform/load_kv aggregate only the newly validated file, while
  ``validated/streams`` accumulates. If two stream files share a
  listen_date, that date's processed partition and KV rows reflect the
  LAST file's aggregates only (the reference behaves identically — each
  Glue run reads one raw file, ``transform.py:16``, and load_dynamo
  upserts by key). ``PipelineConfig(cumulative=True)`` opts into
  consistent shared-date aggregates instead: the affected dates are
  re-read from the (listen_date-partitioned, hence partition-pruned)
  validated lake — per-batch cost bounded by touched dates, not lake
  size.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import kpi, kv_projection, topk, validate
from ..schemas import REQUIRED_COLUMNS, SONGS, STREAMS, USERS
from ..sources import io
from .kvstore import KVStore, write_dataframe
from .ledger import Ledger

KPI_TABLE = "DailyGenreKPIs"
TOP_SONGS_TABLE = "TopSongsPerGenre"
TOP_GENRES_TABLE = "TopGenresPerDay"

# Validation-routing hook (the reference's ``branch_on_validation`` /
# ``route_on_validation`` DAG task, REF/dags/music_etl_pipeline.py:65-67,
# 105-110). The reference's callable is a stub that ALWAYS returns
# "transform_data" (SURVEY.md flags it as a branch that can never branch);
# here the decision point is real: the hook receives per-table
# (good_rows, bad_rows) counts and returns True to continue into transform
# or False to reject the batch (ledger → ``rejected``, raw file retained
# as evidence, downstream stages skipped).
ValidationRouter = Callable[[dict[str, tuple[int, int]]], bool]


def route_always_continue(counts: dict[str, tuple[int, int]]) -> bool:
    """Default router — the reference's observable behavior (its branch task
    unconditionally returns "transform_data")."""
    return True


def route_reject_if_any_bad(counts: dict[str, tuple[int, int]]) -> bool:
    """Strict router: any quarantined row anywhere stops the batch."""
    return all(bad == 0 for _, bad in counts.values())


@dataclass
class PipelineConfig:
    base_dir: str                      # root of the data lake layout
    kv_path: str | None = None         # sqlite KV store (default under base)
    top_songs_k: int = 3
    top_genres_k: int = 5
    # Validation branch (REF DAG's branch_on_validation). Default mirrors the
    # reference's always-continue stub; swap in route_reject_if_any_bad (or a
    # custom policy) to make the branch actually route.
    on_validation_result: ValidationRouter = field(default=route_always_continue)
    # False (default) = the reference's per-file aggregation granularity
    # (last file wins on a shared listen_date). True = recompute each
    # affected date from the accumulated validated lake (partition-pruned)
    # so shared-date KPIs stay consistent — see Pipeline._transform_input.
    cumulative: bool = False
    raw_streams: str = field(init=False)
    raw_songs: str = field(init=False)
    raw_users: str = field(init=False)
    validated_dir: str = field(init=False)
    processed_dir: str = field(init=False)
    archive_dir: str = field(init=False)

    def __post_init__(self) -> None:
        # Mirrors the reference's S3 layout (README.md:15-36).
        self.raw_streams = os.path.join(self.base_dir, "raw", "streams")
        self.raw_songs = os.path.join(self.base_dir, "raw", "songs")
        self.raw_users = os.path.join(self.base_dir, "raw", "users")
        self.validated_dir = os.path.join(self.base_dir, "validated")
        self.processed_dir = os.path.join(self.base_dir, "processed")
        self.archive_dir = os.path.join(self.base_dir, "archive", "streams")
        if self.kv_path is None:
            self.kv_path = os.path.join(self.base_dir, "kv", "store.db")


class Pipeline:
    def __init__(self, spark: SparkSession, config: PipelineConfig):
        self.spark = spark
        self.cfg = config
        self.store = KVStore(config.kv_path)
        self.ledger = Ledger(self.store)
        for name, (hk, rk) in {
            KPI_TABLE: ("date", "genre"),
            TOP_SONGS_TABLE: ("date", "genre_track"),
            TOP_GENRES_TABLE: ("date", "genre"),
        }.items():
            self.store.ensure_table(name, hash_key=hk, range_key=rk)

    # -- S6/O3: file discovery --------------------------------------------
    def discover_new_files(self) -> list[str]:
        """Oldest-first unarchived stream CSVs (REF/dags/music_etl_pipeline.py:18-25
        sorts by LastModified and takes the first; we return the full queue)."""
        if not os.path.isdir(self.cfg.raw_streams):
            return []
        paths = [
            os.path.join(self.cfg.raw_streams, f)
            for f in os.listdir(self.cfg.raw_streams) if f.endswith(".csv")
        ]
        return sorted(paths, key=lambda p: (os.path.getmtime(p), p))

    # -- stage 1: validate --------------------------------------------------
    def _validate_frame(self, name: str, raw: DataFrame, *,
                        mode: str) -> tuple[DataFrame, int]:
        """Frame-level validation (REF/glue_jobs/validate.py:34-47):
        required-columns assertion, null/corrupt split, validated parquet +
        quarantine sinks. ``mode="overwrite"`` for the dimension snapshots
        (the reference rewrites ``clean_users.parquet``/``clean_songs.parquet``
        each run, :65-66); ``"append"`` for the accumulating streams lake.
        The streams lake is hive-partitioned by ``listen_date`` so the
        cumulative transform's affected-date re-read is partition-pruned.
        Returns (good_frame, bad_count) — bad_count feeds the routing hook."""
        partition_by = None
        if name == "streams":
            raw = kpi.with_listen_date(raw)
            partition_by = ["listen_date"]
        good, bad = validate.split_valid_invalid(raw, REQUIRED_COLUMNS[name])
        good = good.drop(io.CORRUPT_COL)   # no-op when the column is absent
        io.write_parquet(good,
                         os.path.join(self.cfg.validated_dir, name), mode=mode,
                         partition_by=partition_by)
        n_bad = bad.count()
        if n_bad:  # the reference also writes bad-records only when non-empty (:43-45)
            io.write_quarantine(bad, self.cfg.base_dir, name, mode=mode)
        return good, n_bad

    def _transform_input(self, new_streams: DataFrame) -> DataFrame:
        """What the transform aggregates over. Default: just the newly
        validated file (the reference's per-run granularity — last file
        wins on a shared listen_date). ``cumulative=True``: every validated
        row for the dates the new file touches, re-read from the lake — a
        partition-pruned scan (the affected-dates set is per-file small),
        so per-batch work is bounded by the touched dates, not lake size;
        shared-date aggregates then stay consistent with the whole lake."""
        if not self.cfg.cumulative:
            return new_streams
        dates = [r["listen_date"]
                 for r in new_streams.select("listen_date").distinct().collect()]
        lake = io.read_parquet(
            self.spark, os.path.join(self.cfg.validated_dir, "streams"))
        return lake.filter(F.col("listen_date").isin(dates))

    def validate_batch(self, streams_raw: DataFrame) -> tuple[dict[str, DataFrame],
                                                          dict[str, tuple[int, int]]]:
        """The reference's validate job validates ALL THREE tables per run
        (REF/glue_jobs/validate.py:53-67), not just the new stream rows.
        Users are validated when the raw prefix exists (the testdata lake may
        omit them); streams append, dimensions overwrite. Returns the good
        frames, persisted for transform, plus per-table (good, bad) counts
        for the routing branch."""
        plan = [("streams", streams_raw, "append"),
                ("songs", io.read_csv(self.spark, self.cfg.raw_songs, SONGS),
                 "overwrite")]
        if os.path.isdir(self.cfg.raw_users) and os.listdir(self.cfg.raw_users):
            plan.append(("users", io.read_csv(self.spark, self.cfg.raw_users, USERS),
                         "overwrite"))
        frames: dict[str, DataFrame] = {}
        counts: dict[str, tuple[int, int]] = {}
        for name, raw, mode in plan:
            good, n_bad = self._validate_frame(name, raw, mode=mode)
            frames[name] = good.persist()  # counted now, re-read by transform
            counts[name] = (good.count(), n_bad)
        return frames, counts

    # -- stage 2: transform ---------------------------------------------------
    def transform(self, streams: DataFrame, songs: DataFrame) -> dict[str, DataFrame]:
        joined = kpi.join_streams_songs(streams, songs)
        joined.persist()  # 3-way fan-out; the reference recomputes it 3×
        try:
            outputs = {
                "avg_metrics": kpi.daily_genre_kpis(joined),
                "top_songs": topk.top_songs_per_genre(joined, self.cfg.top_songs_k),
                "top_genres": topk.top_genres_per_day(joined, self.cfg.top_genres_k),
            }
            for name, df in outputs.items():
                io.write_parquet(df, os.path.join(self.cfg.processed_dir, name),
                                 partition_by=["listen_date"])
        finally:
            joined.unpersist()
        return outputs

    # -- stage 3: KV load ----------------------------------------------------
    def load_kv(self, outputs: dict[str, DataFrame]) -> None:
        write_dataframe(kv_projection.genre_kpi_items(outputs["avg_metrics"]),
                        self.cfg.kv_path, KPI_TABLE)
        write_dataframe(kv_projection.top_song_items(outputs["top_songs"]),
                        self.cfg.kv_path, TOP_SONGS_TABLE)
        write_dataframe(kv_projection.top_genre_items(outputs["top_genres"]),
                        self.cfg.kv_path, TOP_GENRES_TABLE)

    # -- one batch: every stage --------------------------------------------
    def process(self, streams_raw: DataFrame) -> bool:
        """validate → route → transform → KV load for one batch of raw stream
        rows; both drivers run exactly this. False when the router rejects
        the batch (nothing after validation runs). The validated frames stay
        cached until the KV load has read them."""
        frames, counts = self.validate_batch(streams_raw)
        try:
            if not self.cfg.on_validation_result(counts):
                return False
            outputs = self.transform(self._transform_input(frames["streams"]),
                                     frames["songs"])
            self.load_kv(outputs)
        finally:
            for df in frames.values():
                df.unpersist()
        return True

    # -- batch driver ---------------------------------------------------------
    def run_once(self) -> str | None:
        """Process the single oldest unprocessed file (the reference's
        one-file-per-DAG-run granularity); None if nothing to do.

        A batch the router rejects is consumed (ledger → ``rejected``, never
        re-claimed) but NOT archived — the raw file stays as evidence — and
        the loop moves on to the next candidate."""
        for path in self.discover_new_files():
            fname = os.path.basename(path)
            if not self.ledger.try_claim(fname):
                continue
            if not self.process(io.read_csv(self.spark, path, STREAMS)):
                self.ledger.mark_rejected(fname)
                continue
            self.ledger.mark_processed(fname)
            io.archive_files([path], self.cfg.archive_dir)
            return fname
        return None

    def run_all(self) -> list[str]:
        done = []
        while (f := self.run_once()) is not None:
            done.append(f)
        return done

    # -- streaming driver -----------------------------------------------------
    def process_stream_batch(self, streams_raw: DataFrame, epoch_id: int) -> None:
        """``foreachBatch`` body: :meth:`process` on one streaming
        micro-batch (= one raw file under ``maxFilesPerTrigger=1`` — the
        reference's one-file-per-DAG-run granularity, preserved). All three
        tables are validated and the router applies, as in the batch driver;
        a rejected micro-batch still commits its offset, so it is consumed
        and not retried. The sqlite ledger is NOT consulted — exactly-once
        comes from the checkpoint's file-source offset log instead
        (SURVEY.md §2.9: checkpoint-as-ledger)."""
        self.process(streams_raw)

    def run_streaming(self, *, checkpoint_dir: str | None = None,
                      archive: bool = False) -> None:
        """Drain the raw streams directory with Trigger.AvailableNow through
        the full pipeline (streaming.filestream glue). Restart-safe: a second
        call with the same checkpoint reprocesses nothing; new files get one
        micro-batch each. ``archive=True`` additionally moves consumed files
        via ``cleanSource=archive`` (asynchronous — Spark archives a batch's
        files as later batches commit, so raw may drain lazily)."""
        from ..streaming import filestream

        ckpt = checkpoint_dir or os.path.join(self.cfg.base_dir, "checkpoints",
                                              "pipeline")
        stream = filestream.csv_file_stream(
            self.spark, self.cfg.raw_streams, io.with_corrupt_col(STREAMS),
            archive_dir=self.cfg.archive_dir if archive else None)
        q = filestream.run_available_now(stream, self.process_stream_batch, ckpt)
        q.awaitTermination()

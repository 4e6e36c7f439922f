"""Batch sources and sinks (SURVEY.md §2.1, S1-S3 / S7-S9 / S12).

The reference reads CSV two ways — bytes→pandas in validation
(``REF/glue_jobs/validate.py:19-23``) and schema-less Spark CSV in transform
(``REF/glue_jobs/transform.py:16``) — and writes parquet three ways. Here both
collapse into two functions each, always schema-explicit, always distributed:

- ``read_csv``      PERMISSIVE CSV scan with explicit schema + corrupt-record
                    capture (replaces the single-process pandas read — the
                    reference's validation memory ceiling, SURVEY.md §6).
- ``read_parquet``  plain columnar scan; Catalyst pushes filters/projection.
- ``write_parquet`` partitioned, snappy parquet (implements the *documented*
                    layout — ``date=`` partitions per README.md:193 — that the
                    reference's transform.py forgot, SURVEY.md §1.4).
- ``write_quarantine`` bad-record sink mirroring ``bad-records/<name>/``
                    (``REF/glue_jobs/validate.py:43-45``).
- ``archive_files`` post-batch raw→archive move
                    (``REF/dags/music_etl_pipeline.py:58-63``).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def with_corrupt_col(schema: T.StructType) -> T.StructType:
    """``schema`` plus the PERMISSIVE-mode ``_corrupt_record`` string column
    (CSV and JSON-Lines reads, batch and streaming alike)."""
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)])


def read_csv(spark: SparkSession, path: str | list[str],
             schema: T.StructType) -> DataFrame:
    """Header CSV scan with explicit schema (S1/S2).

    PERMISSIVE mode: rows that fail type coercion land with nulls plus the
    raw line in ``_corrupt_record`` so the validation operator can quarantine
    them — at scale a single bad row must never kill the job (the reference's
    pandas read would raise instead).
    """
    return (
        spark.read.schema(with_corrupt_col(schema))
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )


def write_csv(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """Header CSV sink — the write side of S1/S2 (the reference only ever
    CONSUMES CSV; emitting it closes the round-trip so the scan path is
    oracle-checkable: queries_reference.csv_scan_roundtrip)."""
    df.write.mode(mode).option("header", True).csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_parquet(df: DataFrame, path: str, *, partition_by: list[str] | None = None,
                  mode: str = "overwrite") -> None:
    """Parquet sink (S7/S8). With ``partitionOverwriteMode=dynamic`` (session
    conf) an overwrite only replaces the partitions present in ``df`` —
    partition-granular overwrite instead of the reference's whole-dir rewrite.
    """
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   num_buckets: int, *, sort_cols: list[str] | None = None,
                   mode: str = "overwrite") -> None:
    """Bucketed parquet table sink — the co-located-join layout for facts
    that are joined/aggregated on the same key repeatedly (SURVEY.md scale
    posture; no reference counterpart — its lake is plain prefixes).

    ``bucketBy(num_buckets, keys)`` hash-partitions rows into a fixed
    bucket count recorded in the catalog; a later join or aggregation on
    the bucket key reads each bucket as a pre-shuffled partition, so the
    exchange disappears from the plan entirely (asserted in
    tests/test_plans.py). ``sortBy`` additionally pre-sorts within
    buckets, removing the sort from sort-merge joins.

    Bucketed tables must go through the session catalog (``saveAsTable``)
    — path-based parquet has nowhere to record bucket metadata. Pick
    ``num_buckets`` so one bucket ≈ 100-200 MB at the target scale; both
    join sides must use the SAME count (or a multiple, with
    ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``).
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def write_quarantine(bad: DataFrame, base_dir: str, name: str, *,
                     mode: str = "append") -> str:
    """Quarantine sink (S9): ``<base>/bad-records/<name>/``. Append for
    accumulating facts — each batch adds its bad rows and a clean batch must
    not erase prior evidence; overwrite for per-run dimension snapshots,
    matching the reference's fixed-key ``bad_<name>.parquet`` rewrite
    (``REF/glue_jobs/validate.py:45``)."""
    path = os.path.join(base_dir, "bad-records", name)
    write_parquet(bad, path, mode=mode)
    return path


def archive_files(paths: list[str], archive_dir: str) -> list[str]:
    """Move processed raw files into the archive prefix (S12).

    Local-FS equivalent of the reference's S3 copy+delete
    (``REF/dags/music_etl_pipeline.py:58-63``). With the streaming source the
    same effect comes from ``cleanSource=archive`` (see streaming.filestream).
    """
    os.makedirs(archive_dir, exist_ok=True)
    out = []
    for p in paths:
        dest = os.path.join(archive_dir, os.path.basename(p))
        shutil.move(p, dest)
        out.append(dest)
    return out


def read_jsonl(spark: SparkSession, path: str | list[str],
               schema: T.StructType) -> DataFrame:
    """JSON-Lines scan with explicit schema — the lingua franca of LLM
    corpus interchange (one JSON object per line, splittable, appendable).

    Same PERMISSIVE contract as ``read_csv``: a syntactically malformed
    line lands all-null with the raw text in ``_corrupt_record``; a
    type-mismatched field nulls that field, salvages the rest, and still
    flags the row in ``_corrupt_record`` (probed on Spark 4.1); a merely
    MISSING field is null and NOT corrupt (JSON is schema-on-read —
    absence is legal). Validation downstream decides which nulls are
    fatal, exactly as with CSV.

    Never ``inferSchema`` at scale: inference is a full extra pass over
    100 TB and can flip types between runs; the schema is the contract.
    """
    return (
        spark.read.schema(with_corrupt_col(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def write_jsonl(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """JSON-Lines sink (one object per line per row; nulls omitted by
    Spark's JSON writer, which PERMISSIVE reads back as null — lossless
    for the scan contract above)."""
    df.write.mode(mode).json(path)


def read_parquet_evolving(spark: SparkSession,
                          path: str | list[str]) -> DataFrame:
    """Parquet scan across files written under DIFFERENT schema versions
    (columns added over time): ``mergeSchema`` unions the footers into one
    widened schema; files lacking a column surface nulls for it.

    Scale note: schema merging reads every file footer at planning time —
    fine per-partition, expensive across 10⁶ files; production lakes pin
    the merged schema in a catalog and pass it explicitly (the
    ``read_parquet`` path). This entry point is for the ingestion edge
    where drift is still being discovered.
    """
    paths = path if isinstance(path, list) else [path]
    return spark.read.option("mergeSchema", True).parquet(*paths)


def union_evolving(frames: list[DataFrame]) -> DataFrame:
    """DataFrame-level schema evolution: union batches whose schemas
    drifted (later batches added columns) by NAME, null-filling columns a
    batch lacks — positional union would silently misalign. The widened
    schema is the union of all inputs'."""
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def write_orc(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """Columnar ORC sink — Spark's built-in second columnar format (the
    lake-interchange alternative where the warehouse side is Hive/Trino-
    first). Same splittable, predicate-pushdown scan properties as
    parquet."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """ORC scan — schema from the file footer, filters and column pruning
    push down exactly as for parquet (OrcScan reports PushedFilters)."""
    paths = path if isinstance(path, list) else [path]
    return spark.read.orc(*paths)

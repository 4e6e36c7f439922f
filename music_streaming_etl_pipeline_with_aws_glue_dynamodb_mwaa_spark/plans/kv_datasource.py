"""PySpark Python Data Source for the KV store: ``spark.read.format
("kvstore")`` / ``df.write.format("kvstore")``.

The reference's DynamoDB layer is write-only from the pipeline's point of
view (items loaded by ``REF/glue_jobs/load_dynamo.py:157-173``, read back
only by hand in the console — ``README.md:107``). This connector makes the
projection tables first-class on BOTH sides of the DataFrame API using
Spark 4's Python Data Source interface — the idiomatic way to wrap a KV
service without a JVM connector:

- reads are partitioned (``rowid % N`` buckets over the sqlite item table —
  substitute segment/totalSegments for a real DynamoDB parallel scan);
- writes are distributed upserts through ``kvstore.write_partition``
  (25-item boto3 batch_writer semantics), one writer per task; the
  pipeline's ``kvstore.write_dataframe`` instead collects its bounded
  aggregate items and writes them on the driver. Append-mode
  task batches commit as they flush — safe because INSERT OR REPLACE by
  primary key is idempotent under task retry/speculation (partial data on
  JOB failure mirrors DynamoDB batch-writer semantics). ``mode
  ("overwrite")`` is staged: tasks write to a hidden staging table and the
  driver's ``commit()`` swaps it in atomically (single sqlite transaction:
  delete target rows + re-label staging), so a failed or cancelled
  overwrite job never leaves the target truncated — ``abort()`` just drops
  the staging rows;
- schema is caller-provided or inferred from a sample item (JSON-typed:
  long / double / string).

Register once per session:  ``spark.dataSource.register(KVStoreDataSource)``.
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence
from uuid import uuid4

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .kvstore import _connect, write_partition


def _options(options) -> tuple[str, str]:
    try:
        return options["path"], options["table"]
    except KeyError as e:
        raise ValueError(f"kvstore requires option {e}") from None


class KVStoreDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kvstore"

    def schema(self) -> StructType:
        """Infer from one stored item when the caller gives no schema."""
        path, table = _options(self.options)
        with _connect(path) as con:
            row = con.execute(
                "SELECT item FROM kv_items WHERE tbl=? LIMIT 1", (table,)
            ).fetchone()
        if row is None:
            raise ValueError(f"KV table {table!r} is empty; pass .schema(...)")
        item = json.loads(row[0])
        def typ(v):
            if isinstance(v, bool) or isinstance(v, str) or v is None:
                return StringType()
            if isinstance(v, int):
                return LongType()
            if isinstance(v, float):
                return DoubleType()
            return StringType()
        return StructType([StructField(k, typ(v), True) for k, v in item.items()])

    def reader(self, schema: StructType) -> DataSourceReader:
        path, table = _options(self.options)
        return _Reader(path, table, schema,
                       int(self.options.get("numPartitions", 4)))

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        path, table = _options(self.options)
        return _Writer(path, table, schema, overwrite=overwrite)


class _Reader(DataSourceReader):
    def __init__(self, path: str, table: str, schema: StructType, n: int):
        self.path, self.table, self.n = path, table, max(n, 1)
        self.fields = [(f.name, f.dataType) for f in schema.fields]

    def partitions(self) -> Sequence[InputPartition]:
        return [InputPartition(i) for i in range(self.n)]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        con = _connect(self.path)
        try:
            rows = con.execute(
                "SELECT item FROM kv_items WHERE tbl=? AND (rowid % ?) = ?",
                (self.table, self.n, partition.value),
            ).fetchall()
        finally:
            con.close()
        for (doc,) in rows:
            item = json.loads(doc)
            out = []
            for name, dt in self.fields:
                v = item.get(name)
                if v is None:
                    out.append(None)
                elif isinstance(dt, LongType):
                    out.append(int(v))
                elif isinstance(dt, DoubleType):
                    out.append(float(v))
                else:
                    out.append(str(v))
            yield tuple(out)


class _Writer(DataSourceWriter):
    """Task side writes 25-item idempotent upsert batches (INSERT OR
    REPLACE by primary key — retried/speculated tasks converge). Overwrite
    jobs stage under a hidden table label; the driver-side ``commit()``
    performs the truncate-and-swap in ONE sqlite transaction, and
    ``abort()`` discards the staging rows, so the target is never observed
    truncated-but-unfilled."""

    def __init__(self, path: str, table: str, schema: StructType, *,
                 overwrite: bool = False):
        self.path, self.table = path, table
        self.columns = [f.name for f in schema.fields]
        # uuid fixed at plan time: all tasks of this job share the staging
        # label; a concurrent overwrite job stages elsewhere.
        self.staging = (f"__staging_{uuid4().hex}__{table}"
                        if overwrite else None)

    def write(self, iterator: Iterator) -> WriterCommitMessage:
        write_partition(iterator, self.path, {self.table: self.columns},
                        self.columns, label=self.staging)
        return WriterCommitMessage()

    def commit(self, messages) -> None:
        if self.staging is None:
            return
        with _connect(self.path) as con:
            # one transaction: readers see either the old table or the new
            con.execute("DELETE FROM kv_items WHERE tbl=?", (self.table,))
            con.execute("UPDATE kv_items SET tbl=? WHERE tbl=?",
                        (self.table, self.staging))

    def abort(self, messages) -> None:
        if self.staging is None:
            return   # append-mode partials persist; upserts are idempotent
        with _connect(self.path) as con:
            con.execute("DELETE FROM kv_items WHERE tbl=?", (self.staging,))

"""Local KV sink with a DynamoDB-shaped interface (SURVEY.md §2.1 S10/S11).

Mirrors the observable surface of the reference's DynamoDB layer —
``create_table_if_not_exists`` (``REF/glue_jobs/load_dynamo.py:41-55``, DDL at
:83-117), ``put_item`` via 25-item batch writer (:69-78), ``get_item`` /
``update_item`` ledger calls (``REF/dags/music_etl_pipeline.py:34-56``) — over
an embedded sqlite file, so the whole pipeline runs hermetically.

The pipeline's write path is ``write_dataframe``: one Spark job collects
the table-tagged union of the tables' item frames, and the driver writes
the rows, replacing the whole item set of each (table, hash key) it
touches in one transaction. The frames are aggregates, at most dates ×
genres × (1 + top-songs k) + dates × top-genres k items per batch
whatever the fact size, and the store is one local file with one writer
lock, which task-side writers would only queue on; the driver-side write
starts no Python worker. (The reference materializes the whole dataset in
driver dicts, ``load_dynamo.py:61-62``.) ``write_partition`` is the
task-side writer of the ``kvstore`` Python Data Source
(``plans.kv_datasource``): 25-item transactional upsert batches, like a
DynamoDB ``batch_writer``. Swapping sqlite for boto3 changes these two
writers.

Items are stored as JSON documents keyed by (hash_key, range_key);
``put_item`` and ``write_partition`` upsert, as DynamoDB's put_item does.
"""

from __future__ import annotations

import json
import os
import sqlite3
from collections.abc import Iterable, Iterator
from dataclasses import dataclass
from functools import reduce
from itertools import islice

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCHEMA = """
CREATE TABLE IF NOT EXISTS kv_tables (
    name TEXT PRIMARY KEY, hash_key TEXT NOT NULL, range_key TEXT
);
CREATE TABLE IF NOT EXISTS kv_items (
    tbl TEXT NOT NULL, hk TEXT NOT NULL, rk TEXT NOT NULL DEFAULT '',
    item TEXT NOT NULL, PRIMARY KEY (tbl, hk, rk)
);
"""

BATCH_SIZE = 25  # items per transaction, as boto3's batch_writer
TABLE_COL = "_kv_table"  # names each row's table in a multi-table load
_UPSERT = "INSERT OR REPLACE INTO kv_items(tbl, hk, rk, item) VALUES (?,?,?,?)"


def _connect(path: str) -> sqlite3.Connection:
    con = sqlite3.connect(path, timeout=60)
    con.execute("PRAGMA journal_mode=WAL")
    con.execute("PRAGMA busy_timeout=60000")
    return con


def _table_keys(con: sqlite3.Connection, name: str) -> tuple[str, str | None]:
    row = con.execute(
        "SELECT hash_key, range_key FROM kv_tables WHERE name=?", (name,)
    ).fetchone()
    if row is None:
        raise KeyError(f"KV table not declared: {name}")
    return row[0], row[1]


@dataclass
class KVStore:
    path: str

    def __post_init__(self) -> None:
        os.makedirs(os.path.dirname(os.path.abspath(self.path)), exist_ok=True)
        with _connect(self.path) as con:
            con.executescript(_SCHEMA)

    # -- DDL (S11) ---------------------------------------------------------
    def ensure_table(self, name: str, hash_key: str, range_key: str | None = None) -> None:
        """CREATE TABLE IF NOT EXISTS semantics (REF/glue_jobs/load_dynamo.py:41-55)."""
        with _connect(self.path) as con:
            con.execute(
                "INSERT OR IGNORE INTO kv_tables(name, hash_key, range_key) VALUES (?,?,?)",
                (name, hash_key, range_key),
            )

    def table_keys(self, name: str) -> tuple[str, str | None]:
        with _connect(self.path) as con:
            return _table_keys(con, name)

    # -- item ops ----------------------------------------------------------
    def put_item(self, table: str, item: dict) -> None:
        hk_col, rk_col = self.table_keys(table)
        hk, rk = str(item[hk_col]), str(item[rk_col]) if rk_col else ""
        with _connect(self.path) as con:
            con.execute(
                "INSERT OR REPLACE INTO kv_items(tbl, hk, rk, item) VALUES (?,?,?,?)",
                (table, hk, rk, json.dumps(item, default=str)),
            )

    def put_item_if_absent(self, table: str, item: dict) -> bool:
        """Conditional put — DynamoDB's ``attribute_not_exists(pk)`` guard.
        One atomic statement (INSERT OR IGNORE + rowcount), so two racing
        writers can never both win: exactly one sees True."""
        hk_col, rk_col = self.table_keys(table)
        hk, rk = str(item[hk_col]), str(item[rk_col]) if rk_col else ""
        with _connect(self.path) as con:
            cur = con.execute(
                "INSERT OR IGNORE INTO kv_items(tbl, hk, rk, item) VALUES (?,?,?,?)",
                (table, hk, rk, json.dumps(item, default=str)),
            )
            return cur.rowcount == 1

    def get_item(self, table: str, hash_value, range_value=None) -> dict | None:
        with _connect(self.path) as con:
            row = con.execute(
                "SELECT item FROM kv_items WHERE tbl=? AND hk=? AND rk=?",
                (table, str(hash_value), str(range_value) if range_value is not None else ""),
            ).fetchone()
        return json.loads(row[0]) if row else None

    def update_item(self, table: str, hash_value, updates: dict, range_value=None) -> None:
        """Atomic merge-upsert (ledger status transitions,
        REF/dags/music_etl_pipeline.py:47-56): one ``ON CONFLICT DO UPDATE``
        with ``json_patch`` — concurrent updaters can interleave but never
        lose each other's disjoint fields (a read-modify-write would)."""
        hk_col, rk_col = self.table_keys(table)
        hk = str(hash_value)
        rk = str(range_value) if (rk_col and range_value is not None) else ""
        patch = dict(updates)
        patch[hk_col] = hk
        if rk_col and range_value is not None:
            patch[rk_col] = rk
        with _connect(self.path) as con:
            con.execute(
                "INSERT INTO kv_items(tbl, hk, rk, item) VALUES (?,?,?,json(?)) "
                "ON CONFLICT(tbl, hk, rk) DO UPDATE SET item=json_patch(item, excluded.item)",
                (table, hk, rk, json.dumps(patch, default=str)),
            )

    def scan(self, table: str) -> list[dict]:
        with _connect(self.path) as con:
            rows = con.execute("SELECT item FROM kv_items WHERE tbl=?", (table,)).fetchall()
        return [json.loads(r[0]) for r in rows]

    def count(self, table: str) -> int:
        with _connect(self.path) as con:
            return con.execute("SELECT count(*) FROM kv_items WHERE tbl=?", (table,)).fetchone()[0]


def _records(con: sqlite3.Connection, rows: Iterable,
             tables: dict[str, list[str]], columns: list[str],
             label: str | None = None) -> Iterator[tuple[str, str, str, str]]:
    """``rows`` as (table, hash key, range key, JSON item) records.
    ``columns`` are the rows' columns; ``tables`` maps each table to its
    item columns. With one table every row is one of its items; with
    several, each row names its table in ``TABLE_COL``. The tables' key
    columns are read once. ``label`` stores the items under another table
    name (the data source's staged overwrite)."""
    pos = {c: i for i, c in enumerate(columns)}
    plans = {}
    for t, cols in tables.items():
        hk_col, rk_col = _table_keys(con, t)
        plans[t] = ([(c, pos[c]) for c in cols], hk_col, rk_col)
    tag = pos[TABLE_COL] if len(tables) > 1 else None
    only = next(iter(tables))
    for row in rows:
        t = only if tag is None else row[tag]
        cols, hk_col, rk_col = plans[t]
        it = {c: row[i] for c, i in cols}
        yield (label or t, str(it[hk_col]), str(it[rk_col]) if rk_col else "",
               json.dumps(it, default=str))


def write_partition(rows: Iterable, store_path: str,
                    tables: dict[str, list[str]], columns: list[str], *,
                    label: str | None = None) -> None:
    """One task's rows as 25-item transactional upsert batches (boto3
    batch_writer, REF/glue_jobs/load_dynamo.py:69-78); the arguments are
    those of ``_records``."""
    con = _connect(store_path)
    try:
        records = _records(con, rows, tables, columns, label)
        while batch := list(islice(records, BATCH_SIZE)):
            con.executemany(_UPSERT, batch)
            con.commit()
    finally:
        con.close()


def write_dataframe(items: dict[str, DataFrame], store_path: str) -> None:
    """S10: KV load of one or more tables. One Spark job collects the
    table-tagged union of their item frames, and the driver writes the
    rows. Each (table, hash key) the rows touch has its whole item set
    replaced, in one transaction per hash key: a range key the new items
    no longer hold is deleted, as the date's processed partition is
    overwritten. Hash keys the rows do not touch keep their items.

    The pipeline's item frames are aggregates, at most dates × genres ×
    (1 + top-songs k) + dates × top-genres k rows per batch whatever the
    number of stream rows. They arrive item-shaped
    (operators.kv_projection), so the per-row work is a dict dump.
    """
    tables = {t: df.columns for t, df in items.items()}
    union = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                   (df.withColumn(TABLE_COL, F.lit(t)) for t, df in items.items()))
    rows = union.collect()
    con = _connect(store_path)
    try:
        by_key: dict[tuple[str, str], list[tuple]] = {}
        for rec in _records(con, rows, tables, union.columns):
            by_key.setdefault(rec[:2], []).append(rec)
        for (table, hk), recs in by_key.items():
            with con:
                con.execute("DELETE FROM kv_items WHERE tbl=? AND hk=?", (table, hk))
                con.executemany(_UPSERT, recs)
    finally:
        con.close()

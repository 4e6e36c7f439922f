"""Independent correctness oracles, computed with DuckDB.

- ``expected_kv``: the items of the three DynamoDB-shaped KV tables, from the
  raw CSVs alone, with the same validation rules (required columns non-null,
  unparseable timestamps quarantined) and the same top-k tie-breaks as
  ``operators/topk.py`` (count desc, then the group key asc).
- ``kv_items``: the same canonical item set read back from the sqlite store.
- ``QueryOracle``: row count, column names and the order-insensitive
  ``tools/oracle_check.value_hash`` of a registry query against its
  ``oracle_sql()`` entry.
"""

from __future__ import annotations

import hashlib
import json
import os
import sqlite3

import duckdb

from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.plans.pipeline import (
    PipelineConfig)

KPI_TABLE = "DailyGenreKPIs"
TOP_SONGS_TABLE = "TopSongsPerGenre"
TOP_GENRES_TABLE = "TopGenresPerDay"
KV_TABLES = (KPI_TABLE, TOP_SONGS_TABLE, TOP_GENRES_TABLE)


def _item(table: str, hk: str, rk: str, item: dict) -> tuple[str, str, str, str]:
    return table, hk, rk, json.dumps(item, sort_keys=True)


def expected_kv(raw_dir: str) -> set[tuple[str, str, str, str]]:
    """The KV items a pipeline with the default ``PipelineConfig`` writes
    for the raw lake ``raw_dir``."""
    con = duckdb.connect()
    try:
        def csv(sub):
            return (f"read_csv('{os.path.join(raw_dir, sub, '*.csv')}', "
                    "header=true, all_varchar=true)")

        con.execute(f"""
            CREATE TEMP VIEW joined AS
            SELECT s.user_id, s.track_id, g.track_name, g.track_genre,
                   g.duration_ms,
                   CAST(TRY_CAST(s.listen_time AS TIMESTAMP) AS DATE) AS d
            FROM {csv('streams')} s
            JOIN (SELECT track_id, track_name, track_genre,
                         CAST(duration_ms AS BIGINT) AS duration_ms
                  FROM {csv('songs')}
                  WHERE track_id IS NOT NULL AND track_name IS NOT NULL
                    AND track_genre IS NOT NULL
                    AND TRY_CAST(duration_ms AS BIGINT) IS NOT NULL) g
              USING (track_id)
            WHERE s.user_id IS NOT NULL AND s.track_id IS NOT NULL
              AND TRY_CAST(s.listen_time AS TIMESTAMP) IS NOT NULL""")
        out = set()
        for d, genre, n, users, total in con.execute("""
                SELECT CAST(d AS VARCHAR), track_genre, count(track_id),
                       count(DISTINCT user_id), CAST(sum(duration_ms) AS BIGINT)
                FROM joined GROUP BY ALL""").fetchall():
            out.add(_item(KPI_TABLE, d, genre, {
                "date": d, "genre": genre, "listen_count": n,
                "unique_listeners": users, "total_listening_time": float(total),
                "avg_listen_time_per_user": float(total) / float(users)}))
        for d, genre, name, n, rank in con.execute(f"""
                SELECT * FROM (
                  SELECT d, track_genre, track_name, n,
                         row_number() OVER (PARTITION BY d, track_genre
                                            ORDER BY n DESC, track_name) AS r
                  FROM (SELECT CAST(d AS VARCHAR) AS d, track_genre, track_name,
                               count(*) AS n
                        FROM joined GROUP BY ALL))
                WHERE r <= {PipelineConfig.top_songs_k}""").fetchall():
            key = f"{genre}#{name}"
            out.add(_item(TOP_SONGS_TABLE, d, key, {
                "date": d, "genre_track": key, "genre": genre,
                "track_name": name, "play_count": n, "rank": rank}))
        for d, genre, n, rank in con.execute(f"""
                SELECT * FROM (
                  SELECT d, track_genre, n,
                         row_number() OVER (PARTITION BY d
                                            ORDER BY n DESC, track_genre) AS r
                  FROM (SELECT CAST(d AS VARCHAR) AS d, track_genre, count(*) AS n
                        FROM joined GROUP BY ALL))
                WHERE r <= {PipelineConfig.top_genres_k}""").fetchall():
            out.add(_item(TOP_GENRES_TABLE, d, genre, {
                "date": d, "genre": genre, "listen_count": n, "rank": rank}))
        return out
    finally:
        con.close()


def kv_items(store_path: str) -> set[tuple[str, str, str, str]]:
    con = sqlite3.connect(f"file:{store_path}?mode=ro", uri=True)
    try:
        rows = con.execute(
            "SELECT tbl, hk, rk, item FROM kv_items WHERE tbl IN (?,?,?)",
            KV_TABLES).fetchall()
    finally:
        con.close()
    return {_item(t, hk, rk, json.loads(item)) for t, hk, rk, item in rows}


def digest(items: set[tuple[str, ...]]) -> str:
    h = hashlib.sha256()
    for line in sorted("\x1f".join(i) for i in items):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class QueryOracle:
    """DuckDB views over the lake's parquet tables plus the registry's
    oracle SQL."""

    def __init__(self, lake_dir: str, tables: list[str], oracle_sql: dict[str, str]):
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(lake_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.sql = oracle_sql

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when the rows match the oracle, else what differed. Queries
        without an oracle entry must return rows."""
        from oracle_check import value_hash   # tools/, on sys.path

        if name not in self.sql:
            return None if rows else "rows-only query returned no rows"
        res = self.con.execute(self.sql[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if len(rows) != len(orows):
            return f"rows {len(rows)} != oracle {len(orows)}"
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
        if value_hash(cols, rows) != value_hash(ocols, orows):
            return "value hash differs"
        return None

    def close(self) -> None:
        self.con.close()

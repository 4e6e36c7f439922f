"""Self-check harness mimicking the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at the given sf dir and
compares against ``oracle_sql()`` via DuckDB: row count, schema (column
names + order-insensitive value hash over name-sorted columns).

Usage:  python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.session import get_spark
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.sources.catalog import TABLES


def _norm_cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if v != v:
            return "nan"
        # normalize -0.0 and integral floats
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    spark = get_spark("oracle-check")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        cols = sdf.columns
        # Driver-shaped guard: the driver's comparator factorizes result
        # cells with pandas and dies on binary/array/map/struct values
        # (TypeError: unhashable type). Reject such schemas up front unless
        # the query is rows-only BY DESIGN (no oracle entry), so a
        # CORRECTNESS ERR of that class can never recur.
        unhashable = [f.name for f in sdf.schema.fields
                      if f.dataType.typeName() in
                      ("binary", "array", "map", "struct")]
        if unhashable and name in oracles:
            print(f"✗ {name:35s} UNHASHABLE COLUMNS for driver comparator: "
                  f"{unhashable} — project digests/CSV instead")
            failures += 1
            continue
        rows = [tuple(r) for r in sdf.collect()]
        spark_secs = time.time() - t0
        if name not in oracles:
            print(f"  {name:35s} rows-only: {len(rows)} rows  ({spark_secs:.1f}s)")
            continue
        ocols = None
        try:
            # Driver-shaped guard #2 (round-4 diagnosis): DuckDB SUM(BIGINT)
            # yields HUGEINT (int128); the driver's pandas-converting
            # comparator renders HUGEINT as float64 ("123.0" vs Spark "123")
            # → hash mismatch with rows+schema green. This was the ONLY
            # cause of the r2/r3 pack_documents_512 / packing_stats_512
            # driver reds (perfect 2/2-vs-48/48 correlation with HUGEINT
            # presence in the 50-window). Reject such oracles up front even
            # though fetchall() masks the problem locally.
            otypes = [str(t) for t in con.sql(oracles[name]).types]
            bad = [t for t in otypes if "HUGEINT" in t.upper()]
            if bad:
                print(f"✗ {name:35s} HUGEINT ORACLE COLUMNS {bad} — "
                      f"CAST(... AS BIGINT) every SUM that reaches output")
                failures += 1
                continue
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"✗ {name:35s} ORACLE ERROR: {e}")
            failures += 1
            continue
        ok_count = len(rows) == len(orows)
        ok_schema = sorted(cols) == sorted(ocols)
        sh, oh = value_hash(cols, rows), value_hash(ocols, orows)
        ok_hash = sh == oh
        status = "✓" if (ok_count and ok_schema and ok_hash) else "✗"
        if status == "✗":
            failures += 1
        print(f"{status} {name:35s} rows {len(rows)}/{len(orows)} "
              f"schema={'ok' if ok_schema else f'{sorted(cols)} vs {sorted(ocols)}'} "
              f"hash={'ok' if ok_hash else 'MISMATCH'}  ({spark_secs:.1f}s)")
        if not ok_hash and ok_count and ok_schema:
            # show a diff sample
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
            sset = {tuple(_norm_cell(r[i]) for i in order) for r in rows}
            oset = {tuple(_norm_cell(r[i]) for i in oorder) for r in orows}
            print("    spark-only:", list(sset - oset)[:2])
            print("    oracle-only:", list(oset - sset)[:2])
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

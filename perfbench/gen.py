"""Seeded input generators. No Spark: numpy, the csv text format and pyarrow.

Two inputs:

- ``write_raw_lake``: the pipeline's raw lake (``raw/streams``, ``raw/songs``,
  ``raw/users`` CSVs). Rows follow the repo's role mapping
  (``sources.catalog``): streams are lineitem-shaped (l_suppkey -> user_id,
  l_partkey -> track_id, l_shipdate -> listen_time), songs are part-shaped
  (p_partkey, p_name, p_type, cents of p_retailprice) and users are
  customer-shaped. The seed picks the injected bad rows: nulls in required
  columns, unparseable timestamps (which become ``_corrupt_record``) and
  unmatched ``track_id``s. Each stream file covers one ``listen_date`` of its
  own and the files get increasing mtimes.
- ``write_query_lake``: the ten synthetic parquet tables the query registry
  reads (``sources.catalog.TABLES``), shaped like the TPC-H-ish testdata at a
  given scale factor.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np

GENRES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["red", "blue", "green", "small", "big", "hot", "cold", "old"]
NOUN = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "valve"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small big order customer "
         "query filter group stream vector").split()
LANGS = ["en"] * 6 + ["de", "es", "fr", "zh"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]

BASE_DAY = dt.date(2024, 1, 1)
BASE_MTIME = 1_700_000_000


def _csv_line(fields) -> str:
    return ",".join("" if f is None else str(f) for f in fields) + "\n"


def _write(path: str, header: str, lines: list[str]) -> int:
    data = header + "".join(lines)
    with open(path, "w", newline="") as fh:
        fh.write(data)
    return len(data.encode())


def track_names(n: int, rng: np.random.Generator) -> list[str]:
    return [f"{ADJ[a]} {NOUN[b]}"
            for a, b in zip(rng.integers(0, len(ADJ), n),
                            rng.integers(0, len(NOUN), n))]


def write_raw_lake(base: str, seed: int, *, files: int, rows_per_file: int,
                   songs: int, users: int, bad_frac: float = 0.02) -> dict:
    """Write ``base/raw/{streams,songs,users}``; return the input record
    (file count, stream rows, bad rows by kind, CSV bytes)."""
    rng = np.random.default_rng(seed)
    raw = {k: os.path.join(base, "raw", k) for k in ("streams", "songs", "users")}
    for d in raw.values():
        os.makedirs(d, exist_ok=True)
    rec = {"files": files, "stream_rows": 0, "songs": songs, "users": users,
           "bad": {"null_required": 0, "bad_timestamp": 0, "unmatched_track": 0,
                   "song_nulls": 0, "user_nulls": 0},
           "stream_csv_bytes": 0, "dim_csv_bytes": 0}

    names = track_names(songs, rng)
    genres = rng.integers(0, len(GENRES), songs)
    cents = 90000 + (np.arange(songs) % 1000) * 10
    song_null = rng.random(songs) < 0.005
    lines = []
    for i in range(songs):
        genre = None if song_null[i] else GENRES[genres[i]]
        lines.append(_csv_line((i, names[i], genre, int(cents[i]))))
    rec["bad"]["song_nulls"] = int(song_null.sum())
    rec["dim_csv_bytes"] += _write(os.path.join(raw["songs"], "songs.csv"),
                                   "track_id,track_name,track_genre,duration_ms\n",
                                   lines)

    nations = rng.integers(0, 25, users)
    ages = rng.integers(18, 80, users)
    created = rng.integers(0, 3 * 365 * 86400, users)
    user_null = rng.random(users) < 0.01
    lines = []
    for i in range(users):
        ts = dt.datetime(2021, 1, 1) + dt.timedelta(seconds=int(created[i]))
        lines.append(_csv_line((i, f"Customer#{i:09d}",
                                None if user_null[i] else int(ages[i]),
                                f"NATION_{nations[i]}", ts.isoformat())))
    rec["bad"]["user_nulls"] = int(user_null.sum())
    rec["dim_csv_bytes"] += _write(os.path.join(raw["users"], "users.csv"),
                                   "user_id,user_name,user_age,user_country,created_at\n",
                                   lines)

    listeners = max(users // 15, 10)
    for k in range(files):
        n = rows_per_file
        uid = rng.integers(0, listeners, n)
        tid = rng.integers(0, songs, n)
        sec = rng.integers(0, 86400, n)
        kind = rng.random(n)
        col = rng.integers(0, 3, n)
        lines = []
        for i in range(n):
            ts = (dt.datetime.combine(BASE_DAY, dt.time())
                  + dt.timedelta(days=k, seconds=int(sec[i])))
            row = [int(uid[i]), int(tid[i]), ts.isoformat()]
            if kind[i] < bad_frac / 2:
                row[col[i]] = None
                rec["bad"]["null_required"] += 1
            elif kind[i] < bad_frac * 3 / 4:
                row[2] = f"not-a-time-{i}"
                rec["bad"]["bad_timestamp"] += 1
            elif kind[i] < bad_frac:
                row[1] = songs + int(tid[i])
                rec["bad"]["unmatched_track"] += 1
            lines.append(_csv_line(row))
        path = os.path.join(raw["streams"], f"streams_{k:05d}.csv")
        rec["stream_csv_bytes"] += _write(path, "user_id,track_id,listen_time\n",
                                          lines)
        os.utime(path, (BASE_MTIME + k, BASE_MTIME + k))
        rec["stream_rows"] += n
    return rec


def write_query_lake(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for the ten catalog tables at
    scale factor ``sf``; return rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    day_ms = 86_400_000
    ms_1995 = int(dt.datetime(1995, 1, 1).timestamp()) * 1000

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]},
        "nation": {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)},
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": [["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                              "MACHINERY"][i] for i in rng.integers(0, 5, n_cust)]},
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": money(-999.99, 9999.99, n_supp)},
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": track_names(n_part, rng),
            "p_brand": [f"Brand#{i}" for i in rng.integers(0, 25, n_part)],
            "p_type": [GENRES[i] for i in rng.integers(0, len(GENRES), n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)},
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": pa.array(ms_1995 + rng.integers(0, 2400, n_ord) * day_ms,
                                    pa.timestamp("ms")),
            "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                 "5-LOW"][i] for i in rng.integers(0, 5, n_ord)]},
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(ms_1995 + rng.integers(0, 2500, n_li) * day_ms,
                                   pa.timestamp("ms"))},
    }

    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    ev_base = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_base + ev_us, pa.timestamp("us")),
        "user_id": rng.integers(0, max(n_cust // 10, 10), n_ev, dtype=np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": money(0.01, 490.0, n_ev),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]}

    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.08:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[j] for j in
                                  rng.integers(0, len(WORDS), int(rng.integers(8, 90)))))
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] * 0.35 + rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, 64 * n_emb + 1, 64, dtype=np.int32)),
            pa.array(vecs.ravel())),
        "label": pa.array(labels.astype(np.int32))}

    rows = {}
    for name, cols in tables.items():
        tbl = pa.table(cols)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows

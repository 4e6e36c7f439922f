"""The generators are deterministic: same seed, byte-identical files."""

import filecmp
import os

import gen


def _tree(base):
    out = {}
    for dirpath, _, files in os.walk(base):
        for f in files:
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, base)] = p
    return out


def _same_tree(a, b):
    ta, tb = _tree(a), _tree(b)
    return ta.keys() == tb.keys() and all(
        filecmp.cmp(ta[k], tb[k], shallow=False) for k in ta)


def test_raw_lake_same_seed_same_bytes(tmp_path):
    kw = dict(files=3, rows_per_file=200, songs=500, users=300)
    ra = gen.write_raw_lake(str(tmp_path / "a"), 7, **kw)
    rb = gen.write_raw_lake(str(tmp_path / "b"), 7, **kw)
    assert ra == rb
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    gen.write_raw_lake(str(tmp_path / "c"), 8, **kw)
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def test_raw_lake_record_and_order(tmp_path):
    rec = gen.write_raw_lake(str(tmp_path), 3, files=4, rows_per_file=250,
                             songs=400, users=200, bad_frac=0.1)
    streams = sorted(os.listdir(tmp_path / "raw" / "streams"))
    assert rec["files"] == len(streams) == 4
    assert rec["stream_rows"] == 1000
    assert sum(os.path.getsize(tmp_path / "raw" / "streams" / f)
               for f in streams) == rec["stream_csv_bytes"]
    bad = rec["bad"]
    assert bad["null_required"] and bad["bad_timestamp"] and bad["unmatched_track"]
    mtimes = [os.path.getmtime(tmp_path / "raw" / "streams" / f) for f in streams]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4
    # disjoint listen_date ranges: one day per file
    days = []
    for f in streams:
        lines = (tmp_path / "raw" / "streams" / f).read_text().splitlines()[1:]
        days.append({ln.split(",")[2][:10] for ln in lines
                     if ln.split(",")[2][:4] == "2024"})
    assert all(len(d) == 1 for d in days) and len(set().union(*days)) == 4


def test_query_lake_same_seed_same_bytes(tmp_path):
    ra = gen.write_query_lake(str(tmp_path / "a"), 5, 0.001)
    rb = gen.write_query_lake(str(tmp_path / "b"), 5, 0.001)
    assert ra == rb and ra["lineitem"] == 6000
    assert _same_tree(tmp_path / "a", tmp_path / "b")

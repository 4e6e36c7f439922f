"""The DuckDB KV oracle reproduces the hand-checked pipeline fixture."""

import importlib.util
import os

import oracle
from conftest import ROOT


def _fixture():
    spec = importlib.util.spec_from_file_location(
        "pipeline_fixture", os.path.join(ROOT, "tests", "test_pipeline.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _raw_lake(tmp_path):
    fx = _fixture()
    raw = tmp_path / "raw"
    for sub, name, text in (("songs", "songs.csv", fx.SONGS_CSV),
                            ("users", "users.csv", fx.USERS_CSV),
                            ("streams", "streams1.csv", fx.STREAMS_1),
                            ("streams", "streams2.csv", fx.STREAMS_2)):
        (raw / sub).mkdir(parents=True, exist_ok=True)
        (raw / sub / name).write_text(text)
    return raw


def _by_key(items):
    import json
    return {(t, hk, rk): json.loads(item) for t, hk, rk, item in items}


def test_expected_kv_matches_hand_checked_fixture(tmp_path):
    items = _by_key(oracle.expected_kv(str(_raw_lake(tmp_path))))
    rock = items[(oracle.KPI_TABLE, "2024-01-01", "rock")]
    assert rock["listen_count"] == 3 and rock["unique_listeners"] == 2
    assert rock["total_listening_time"] == 500000.0
    assert rock["avg_listen_time_per_user"] == 250000.0
    # the null-user row of 2024-01-02 is quarantined, not counted
    assert items[(oracle.KPI_TABLE, "2024-01-02", "jazz")]["listen_count"] == 1
    assert items[(oracle.TOP_SONGS_TABLE, "2024-01-01", "rock#Alpha")]["rank"] == 1
    assert items[(oracle.TOP_SONGS_TABLE, "2024-01-01", "rock#Beta")]["rank"] == 2
    assert items[(oracle.TOP_GENRES_TABLE, "2024-01-03", "rock")]["listen_count"] == 1


def test_kv_items_reads_back_what_the_store_holds(tmp_path):
    from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.plans.kvstore import KVStore

    expected = oracle.expected_kv(str(_raw_lake(tmp_path)))
    store = KVStore(str(tmp_path / "kv" / "store.db"))
    keys = {oracle.KPI_TABLE: ("date", "genre"),
            oracle.TOP_SONGS_TABLE: ("date", "genre_track"),
            oracle.TOP_GENRES_TABLE: ("date", "genre")}
    for t, (hk, rk) in keys.items():
        store.ensure_table(t, hash_key=hk, range_key=rk)
    for (t, _, _), item in _by_key(expected).items():
        store.put_item(t, item)
    got = oracle.kv_items(store.path)
    assert got == expected
    assert oracle.digest(got) == oracle.digest(expected)

from __future__ import annotations

import hashlib

import pytest

from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark.operators import multimodal, text


def test_text_stats_values(spark):
    df = spark.createDataFrame([(1, "aa bb aa")], "doc_id long, text string")
    r = text.text_stats(df).collect()[0]
    assert r["n_tokens"] == 3 and r["n_distinct_tokens"] == 2
    assert r["n_chars"] == 8
    assert r["avg_token_len"] == 2.0
    assert abs(r["type_token_ratio"] - 2 / 3) < 1e-15


def test_lang_id_heuristic(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "zzz yyy xxx www")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["predicted_lang"] for r in text.lang_id(df).collect()}
    assert out == {1: "en", 2: "und"}


def test_quality_score_gates(spark):
    long_ok = " ".join(["the"] + ["word"] * 30)
    too_short = "the cat"
    df = spark.createDataFrame([(1, long_ok), (2, too_short)], "doc_id long, text string")
    out = {r["doc_id"]: r["keep"] for r in text.quality_score(df).collect()}
    assert out == {1: True, 2: False}


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(1, "Hello  world"), (2, "hello world "), (3, "different doc")],
        "doc_id long, text string")
    fp = {r["doc_id"]: r["fingerprint"] for r in text.doc_fingerprints(df).collect()}
    assert fp[1] == fp[2] != fp[3]


def test_media_plumbing_fake_features(spark):
    docs = spark.createDataFrame([(1, "hello"), (2, "")], "doc_id long, text string")
    media = multimodal.media_from_documents(docs)
    feats = multimodal.extract_media_features(media).collect()
    by_id = {r["media_id"]: r for r in feats}
    assert by_id[1]["byte_len"] == 5
    assert by_id[1]["content_md5"] == hashlib.md5(b"hello").hexdigest()
    assert len(by_id[1]["feature"]) == multimodal.FEATURE_DIM
    assert by_id[1]["feature"][0] == pytest.approx(ord("h") / 255.0)
    assert by_id[2]["byte_len"] == 0  # empty payload survives the batch path


def test_media_byte_stats_no_payload_deserialization(spark):
    docs = spark.createDataFrame([(1, "abc"), (2, "defg")], "doc_id long, text string")
    media = multimodal.media_from_documents(docs)
    r = multimodal.media_byte_stats(media).collect()[0]
    assert (r["n_items"], r["total_bytes"], r["min_bytes"], r["max_bytes"]) == (2, 7, 3, 4)


def test_resize_images_fake_path(spark):
    docs = spark.createDataFrame([(1, "abcd"), (2, "xy")], "doc_id long, text string")
    media = multimodal.media_from_documents(docs)
    out = {r["media_id"]: r for r in
           multimodal.resize_images(media, width=64, height=48).collect()}
    assert (out[1]["width"], out[1]["height"]) == (64, 48)
    assert bytes(out[1]["payload"]) == b"abcd"  # bytes pass through
    assert set(out) == {1, 2}


def test_sample_frames_fanout_from_duration(spark):
    """1:N fan-out driven by duration_ms metadata: 250ms at 100ms interval →
    frames at 0/100/200; null duration → a single frame at 0."""
    media = spark.createDataFrame(
        [(1, "video", b"vv", "video/mp4", None, None, 250),
         (2, "image", b"ii", "image/png", 8, 8, None)],
        "media_id long, kind string, payload binary, mime string, "
        "width int, height int, duration_ms long")
    rows = multimodal.sample_frames(media, frame_interval_ms=100).collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append((r["frame_idx"], r["ts_ms"]))
    assert sorted(by_media[1]) == [(0, 0), (1, 100), (2, 200)]
    assert by_media[2] == [(0, 0)]
    # frames are deterministic content-derived stand-ins: md5 over the
    # uppercase payload hex + ":" + idx (engine-portable derivation)
    frames = {(r["media_id"], r["frame_idx"]): r["frame"] for r in rows}
    assert frames[(1, 0)] == hashlib.md5(b"7676:0").hexdigest()
    assert frames[(1, 2)] == hashlib.md5(b"7676:2").hexdigest()


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing guarantee: docs sharing a substring of length >= k+w-1
    (= 11 at k=8,w=4) share at least one fingerprint; disjoint-alphabet
    docs share none."""
    shared = "commonrunoftext"           # 15 chars >= 11
    df = spark.createDataFrame(
        [(1, "aaaa " + shared + " bbbb"),
         (2, "cccc " + shared + " dddd"),
         (3, "zzzzyyyyxxxxwwwwvvvv")],
        "doc_id long, text string")
    fps = {}
    for r in text.winnow_fingerprints(df).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert fps[1] & fps[2]
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


def test_winnowing_short_doc_yields_no_rows(spark):
    df = spark.createDataFrame([(1, "tiny"), (2, "x" * 12)],
                               "doc_id long, text string")
    rows = text.winnow_fingerprints(df).collect()
    assert {r["doc_id"] for r in rows} == {2}  # doc 1 shorter than k

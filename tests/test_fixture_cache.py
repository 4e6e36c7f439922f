"""The fixture cache (``queries_reference._fixture_dir``) keys each build
on the source data and on the package code, so a fixture-backed query
never certifies output that other data or another tree's code built."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow.parquet as pq

import __spark_entry__ as entrymod
from music_streaming_etl_pipeline_with_aws_glue_dynamodb_mwaa_spark import queries_reference as qr

from .conftest import SF_SMOKE


def test_fixture_built_under_other_code_is_not_served(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf = tmp_path / "sf0.001"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"stand-in")
    builds = []

    def build(fix: str) -> None:
        builds.append(qr._code_fingerprint())
        with open(os.path.join(fix, "built_by"), "w") as fh:
            fh.write(builds[-1])

    monkeypatch.setattr(qr, "_code_fingerprint", lambda: "code-a")
    a = qr._fixture_dir(str(sf), "probe", build)
    assert qr._fixture_dir(str(sf), "probe", build) == a
    monkeypatch.setattr(qr, "_code_fingerprint", lambda: "code-b")
    b = qr._fixture_dir(str(sf), "probe", build)
    assert b != a
    assert builds == ["code-a", "code-b"]
    assert open(os.path.join(b, "built_by")).read() == "code-b"


def test_rewritten_documents_rebuild_csv_fixture(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf = tmp_path / "sf0.001"
    sf.mkdir()
    docs = sf / "documents.parquet"
    shutil.copy(os.path.join(SF_SMOKE, "documents.parquet"), docs)
    query = entrymod.queries()["csv_scan_roundtrip"]
    n_full = query(spark, str(sf)).count()
    assert n_full > 10
    pq.write_table(pq.read_table(docs).slice(0, 10), docs)
    assert query(spark, str(sf)).count() == 10

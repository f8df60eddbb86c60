"""Document-corpus source/sink tests (sources/documents.py): JSONL(.gz),
quoted CSV, whole-file text, and the shard-writing sink."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from graphdb_free_mocha_sa_spark.sources.documents import (
    read_csv_documents, read_jsonl, read_text_documents, write_jsonl)
from tests.conftest import SF_DIR

FIX = str(Path(__file__).resolve().parents[1] / "fixtures")


def test_jsonl_gz_strict_read_exact(spark):
    rows = {r.doc_id: r for r in
            read_jsonl(spark, f"{FIX}/docs.jsonl.gz", mode="strict")
            .collect()}
    assert len(rows) == 8
    assert rows[2].text == "unicode: café naïve über — 日本語"
    assert rows[4].text == "line one\nline two\nline three"
    assert rows[5].text == "" and rows[5].lang is None
    assert rows[6].text == "tab\there and backslash \\ done"


def test_jsonl_permissive_quarantines_bad_lines(spark):
    from graphdb_free_mocha_sa_spark.sources.documents import quarantine
    good, bad = quarantine(read_jsonl(spark, f"{FIX}/docs_bad.jsonl"))
    assert bad.count() == 1
    assert good.count() == 4
    assert "_corrupt_record" not in good.columns
    assert "truncated" in bad.collect()[0]._corrupt_record


def test_jsonl_strict_fails_fast_on_bad_lines(spark):
    with pytest.raises(Exception):
        read_jsonl(spark, f"{FIX}/docs_bad.jsonl", mode="strict").collect()


def test_csv_multiline_quoting(spark):
    rows = {r.doc_id: r for r in
            read_csv_documents(spark, f"{FIX}/docs.csv").collect()}
    assert len(rows) == 8                       # newline-bearing row intact
    assert rows[4].text == "line one\nline two\nline three"
    assert rows[3].text == 'embedded "quotes" and, commas, everywhere'
    assert rows[5].text is None                 # CSV empty field -> NULL


def test_jsonl_round_trip_with_shards(spark, tmp_path):
    src = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
           .limit(100))
    out = str(tmp_path / "shards")
    write_jsonl(src, out, shards=4, compression="gzip")
    import glob
    files = glob.glob(out + "/part-*.json.gz")
    assert len(files) == 4                      # deterministic shard count
    back = read_jsonl(spark, out, schema=src.schema, mode="strict")
    a = sorted(src.collect(), key=lambda r: r.doc_id)
    b = sorted(back.collect(), key=lambda r: r.doc_id)
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_text_documents_one_per_file(spark, tmp_path):
    (tmp_path / "a.txt").write_text("first doc\nwith lines")
    (tmp_path / "b.txt").write_text("second doc")
    rows = {r.path.split("/")[-1]: r.text
            for r in read_text_documents(spark, str(tmp_path)).collect()}
    assert rows == {"a.txt": "first doc\nwith lines",
                    "b.txt": "second doc"}

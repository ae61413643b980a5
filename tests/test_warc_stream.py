"""Continuous crawl ingestion (streaming/warc_stream.py): WARC
archives stream into the committed transcripts table — scored,
content-deduped, exactly-once — with corrupt archives quarantined per
epoch and re-delivery absorbed."""

from __future__ import annotations

import gzip

import pytest

from curator_spark.checkpoint import read_committed
from curator_spark.streaming.warc_stream import run_warc_stream

from test_warc import http_response, rec


def make_archive(n_pages: int, host: str, salt: str = "") -> bytes:
    return b"".join(
        rec("response",
            http_response(f"<html><body><h1>page {i}</h1><p>body of "
                          f"page {i} on {host} {salt} with some words "
                          f"to score</p></body></html>".encode()),
            uri=f"http://{host}/p{i}", rid=f"<urn:uuid:{host}-{i}{salt}>")
        for i in range(n_pages))


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    (d / "c0.warc").write_bytes(make_archive(6, "alpha.com"))
    (d / "c1.warc.gz").write_bytes(gzip.compress(make_archive(4, "beta.org")))
    (d / "c2.warc").write_bytes(b"CORRUPT ARCHIVE")
    return d


def test_warc_stream_end_to_end(spark, landing, tmp_path):
    out = str(tmp_path / "table")
    q, summaries = run_warc_stream(
        spark, str(landing), out,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=2)
    assert len(summaries) == 2  # 3 files / maxFilesPerTrigger=2
    assert sum(s["archives_in"] for s in summaries) == 3
    errs = [e for s in summaries for e in s["archive_errors"]]
    assert len(errs) == 1 and errs[0]["archive"].endswith("c2.warc")
    table = read_committed(spark, out).toPandas()
    # 10 pages → 10 one-doc conversations, scored columns present
    assert table["conv_id"].nunique() == 10
    assert {"ppl", "keep", "scrubbed_text"} <= set(table.columns)

    # re-delivery under new names: content dedup absorbs everything
    (landing / "redeliver.warc").write_bytes(make_archive(6, "alpha.com"))
    q2, s2 = run_warc_stream(
        spark, str(landing), out,
        checkpoint_dir=str(tmp_path / "ckpt"))
    assert sum(s["rows_appended"] for s in s2) == 0
    assert read_committed(spark, out).count() == len(table)

    # genuinely new content appends
    (landing / "c3.warc").write_bytes(make_archive(3, "gamma.net"))
    q3, s3 = run_warc_stream(
        spark, str(landing), out,
        checkpoint_dir=str(tmp_path / "ckpt"))
    assert sum(s["rows_appended"] for s in s3) > 0
    assert read_committed(spark, out).toPandas()["conv_id"].nunique() == 13


def test_create_table_bootstrap_semantics(spark, tmp_path):
    """create_table: fresh dir → empty commitlog v1; idempotent on an
    existing table; refuses a legacy marker-layout dir."""
    import pytest as _pytest

    from conftest import write_legacy_markers_dir
    from curator_spark.checkpoint import (create_table, make_ledger,
                                          table_row_count)
    fresh = str(tmp_path / "fresh")
    assert create_table(fresh) == 1
    assert make_ledger(fresh).latest_version() == 1
    assert table_row_count(fresh) == 0
    v = create_table(fresh)  # idempotent
    assert v == 1

    markers = str(tmp_path / "markers")
    write_legacy_markers_dir(markers, {}, {"run_id": "r", "n_parts": 0})
    with _pytest.raises(ValueError, match="adopt_markers"):
        create_table(markers)


def test_warc_stream_expectations_gate(spark, landing, tmp_path):
    """DLT-style streaming gate: short turns quarantine per epoch with
    the rules they broke; the committed table holds only survivors."""
    from pyspark.sql import functions as F

    # add an archive of too-short pages so the gate has real work
    (landing / "short.warc").write_bytes(b"".join(
        rec("response", http_response(f"<p>hi {i}</p>".encode()),
            uri=f"http://tiny.io/{i}", rid=f"<urn:uuid:tiny-{i}>")
        for i in range(3)))
    out = str(tmp_path / "gated")
    rules = [("min_len", F.length("text") >= 30)]
    q, summaries = run_warc_stream(
        spark, str(landing), out,
        checkpoint_dir=str(tmp_path / "gated_ckpt"),
        expectations=rules, expect_mode="quarantine")
    n_q = sum(s["rows_quarantined"] for s in summaries)
    assert n_q >= 3  # the tiny pages must be withheld
    table = read_committed(spark, out).toPandas()
    assert (table["text"].str.len() >= 30).all()
    assert "tiny.io" not in " ".join(table["text"])
    held = spark.read.parquet(
        str(tmp_path / "gated_quarantine" / "epoch=*")).toPandas()
    assert len(held) == n_q
    assert (held["_failed_expectations"].map(list)
            .map(lambda L: "min_len" in L).all())
    assert held["text"].str.contains("hi ").any()

"""Streaming continuous ingestion (streaming/append_stream.py):
per-epoch content-deduped appends, and the layered exactly-once claim —
re-processing the whole source with a FRESH stream checkpoint appends
nothing, because the dedup key is content, not delivery."""

from __future__ import annotations

import os

import pytest

from curator_spark import fixtures
from curator_spark.checkpoint import read_committed, run_checkpointed
from curator_spark.streaming.append_stream import run_append_stream


@pytest.fixture(scope="module")
def stream_env(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream_append")
    # base table: batch1 committed under the commitlog ledger
    b1 = fixtures.generate_transcripts(1200, seed=21, n_parts=8)
    p1 = str(base / "batch1.parquet")
    fixtures.to_spark_parquet(b1, p1)
    out = str(base / "out")
    run_checkpointed(spark, p1, out)

    # stream dir: one file of fresh convs + one file re-delivering
    # batch1 content under new conv ids (pure duplicates)
    sdir = base / "incoming"
    sdir.mkdir()
    fresh = fixtures.generate_transcripts(600, seed=22, n_parts=8)
    fixtures.to_spark_parquet(fresh, str(sdir / "delivery-1.parquet"))
    redeliver = b1.copy()
    redeliver["conv_id"] = "re-" + redeliver["conv_id"]
    redeliver["part"] = redeliver["conv_id"].map(
        lambda c: fixtures.part_of(c, 8)).astype("int32")
    fixtures.to_spark_parquet(redeliver, str(sdir / "delivery-2.parquet"))
    return {"out": out, "sdir": str(sdir), "base": base,
            "n_b1": len(b1), "n_fresh": len(fresh)}


def test_stream_appends_only_novel_content(spark, stream_env):
    q, summaries = run_append_stream(
        spark, stream_env["sdir"], stream_env["out"],
        checkpoint_dir=str(stream_env["base"] / "ckpt1"),
        max_files_per_trigger=1)
    assert len(summaries) == 2  # one epoch per delivery file
    total_new = sum(s["rows_appended"] for s in summaries)
    assert total_new == stream_env["n_fresh"]
    assert sum(s["convs_dup_prior"] for s in summaries) > 0  # redelivery hit
    table = read_committed(spark, stream_env["out"])
    assert table.count() == stream_env["n_b1"] + stream_env["n_fresh"]


def test_reprocessing_with_fresh_checkpoint_appends_nothing(spark, stream_env):
    """Blow away the stream checkpoint → the source re-delivers every
    file → content dedup absorbs all of it."""
    q, summaries = run_append_stream(
        spark, stream_env["sdir"], stream_env["out"],
        checkpoint_dir=str(stream_env["base"] / "ckpt2"),  # fresh
        max_files_per_trigger=1)
    assert sum(s["rows_appended"] for s in summaries) == 0
    assert all(s["convs_new"] == 0 for s in summaries)
    table = read_committed(spark, stream_env["out"])
    assert table.count() == stream_env["n_b1"] + stream_env["n_fresh"]


def test_each_epoch_is_a_queryable_snapshot(spark, stream_env):
    """Streaming ingestion composes with time travel for free: every
    micro-batch epoch lands as commit-log versions, so the table's
    state BEFORE the stream started (and after each epoch) is a
    readable snapshot, and metadata-only counts track it exactly."""
    from curator_spark.checkpoint import table_history, table_row_count
    out = stream_env["out"]
    hist = table_history(out)
    # the base run's commits hold 'add' actions; streaming epochs append
    # via 'add_files'
    first_append = next(h["version"] for h in hist
                        if "add_files" in h["operations"])
    pre_stream = first_append - 1
    snap = read_committed(spark, out, version=pre_stream)
    assert snap.count() == stream_env["n_b1"]
    assert table_row_count(out, version=pre_stream) == stream_env["n_b1"]
    head = stream_env["n_b1"] + stream_env["n_fresh"]
    assert table_row_count(out) == head
    # replaying counts at every version is monotone non-decreasing and
    # ends at the head — epochs only ever add
    counts = [table_row_count(out, version=h["version"]) for h in hist]
    assert counts == sorted(counts) and counts[-1] == head


def test_append_stream_accepts_cooldown_policy(spark, stream_env):
    """run_append_stream(cooldown=...) plumbs the A20 wrapper around the
    epoch sink; a healthy run records zero pauses and stays idempotent."""
    from curator_spark.streaming.cooldown import CooldownPolicy
    pol = CooldownPolicy(seconds=0.01)
    q, summaries = run_append_stream(
        spark, stream_env["sdir"], stream_env["out"],
        checkpoint_dir=str(stream_env["base"] / "ckpt3"),  # fresh
        cooldown=pol)
    assert sum(s["rows_appended"] for s in summaries) == 0
    assert pol.pauses == []

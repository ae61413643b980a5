"""Idempotent-writer txn markers (Delta's txn action) on the commitlog
ledger: a writer records the highest work unit (streaming epoch, batch
id) it has FULLY committed under its application id, so replayed units
skip before any Spark work — the cheap fast path layered UNDER the
content-level dedup that remains the correctness backstop."""

from __future__ import annotations

import pytest

from curator_spark import fixtures
from curator_spark.checkpoint import (
    make_ledger, read_committed, restore_table, run_checkpointed)
from curator_spark.incremental import append_batch_df


def test_txn_protocol_monotone_and_checkpoint_survivable(tmp_path):
    led = make_ledger(str(tmp_path / "t"))
    assert led.last_txn("tok-indexer") is None
    led.set_txn("tok-indexer", 3)
    led.set_txn("embedder", 1)
    assert led.last_txn("tok-indexer") == 3
    assert led.last_txn("embedder") == 1
    # a late-arriving LOWER mark (a crashed racer's replay) never winds
    # the application back
    led.set_txn("tok-indexer", 2)
    assert led.last_txn("tok-indexer") == 3
    # cross a log-checkpoint boundary: the txn facet must be persisted
    # in checkpoints and seeded back on replay, like parts/meta
    for i in range(4, 4 + led.CKPT_INTERVAL + 2):
        led.set_txn("tok-indexer", i)
    assert led._checkpoints(), "expected a log checkpoint to exist"
    assert led.last_txn("tok-indexer") == 3 + led.CKPT_INTERVAL + 2
    assert led.last_txn("embedder") == 1
    assert led.last_txn("never-seen") is None


def test_append_txn_skips_replayed_unit_and_restore_rolls_back(
        spark, tmp_path):
    p = str(tmp_path / "in.parquet")
    fixtures.write_transcripts_parquet(p, 400, seed=81, n_parts=4)
    out = str(tmp_path / "out")
    run_checkpointed(spark, p, out)
    n0 = read_committed(spark, out).count()
    led = make_ledger(out)
    v_pre = led.latest_version()

    p2 = str(tmp_path / "b2.parquet")
    fixtures.write_transcripts_parquet(p2, 300, seed=82, n_parts=4)
    from curator_spark import schema as _schema
    batch = spark.read.schema(_schema.TRANSCRIPTS_SCHEMA).parquet(p2)

    s1 = append_batch_df(spark, batch, out, run_id="r-ep0",
                         input_desc="b2#0", txn=("loader", 0))
    assert s1["rows_appended"] > 0 and not s1.get("skipped_txn")
    assert led.last_txn("loader") == 0
    n1 = read_committed(spark, out).count()

    # the replayed unit short-circuits BEFORE any Spark work
    s2 = append_batch_df(spark, batch, out, run_id="r-ep0",
                         input_desc="b2#0", txn=("loader", 0))
    assert s2["skipped_txn"] and s2["convs_in"] == 0
    assert read_committed(spark, out).count() == n1

    # a NEW unit re-delivering the same content processes (txn passes)
    # and content dedup absorbs it — zero appended, mark advances
    s3 = append_batch_df(spark, batch, out, run_id="r-ep1",
                         input_desc="b2#1", txn=("loader", 1))
    assert not s3.get("skipped_txn") and s3["rows_appended"] == 0
    assert s3["convs_dup_prior"] > 0
    assert led.last_txn("loader") == 1

    # RESTORE rolls the txn facet back with everything else: after
    # rewinding to before the append, the loader's mark is gone, so
    # re-running unit 0 is NOT skipped and re-appends its rows
    restore_table(out, version=v_pre)
    assert led.last_txn("loader") is None
    s4 = append_batch_df(spark, batch, out, run_id="r-ep0b",
                         input_desc="b2#0", txn=("loader", 0))
    assert not s4.get("skipped_txn") and s4["rows_appended"] > 0
    assert read_committed(spark, out).count() == n1 == n0 + s4["rows_appended"]

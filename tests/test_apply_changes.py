"""Streaming CDC apply (streaming/apply_changes.py): an upsert/delete
change stream with per-key sequences maintains a commitlog table equal
to the newest image per key — batch collapse via max_by (no window
sort), one atomic 3-clause merge per epoch, txn-in-same-version
exactly-once across restarts AND across full re-deliveries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import copy_table
from curator_spark.checkpoint import make_ledger, read_committed
from curator_spark.datasource import CuratorTableDataSource
from curator_spark.streaming.apply_changes import (
    apply_cdc_batch, collapse_cdc, run_apply_changes_stream)

CDC_SCHEMA = ("conv_id string, turn_idx int, role string, ppl double, "
              "seq long, is_delete boolean")


def _base(spark, n=400):
    return spark.range(n).select(
        F.concat(F.lit("conv-"), F.col("id")).alias("conv_id"),
        (F.col("id") % 5).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        (F.col("id") % 97).cast("double").alias("ppl"))


@pytest.fixture(scope="module")
def built_table(spark, tmp_path_factory):
    spark.dataSource.register(CuratorTableDataSource)
    out = str(tmp_path_factory.mktemp("apply_changes") / "t")
    (_base(spark).write.format("curator_table")
     .option("bucketBy", "conv_id").option("buckets", "4")
     .mode("append").save(out))
    return out


@pytest.fixture()
def table(spark, built_table, tmp_path):
    """A private copy of the module's table for each test."""
    spark.dataSource.register(CuratorTableDataSource)
    return copy_table(built_table, tmp_path / "t")


def _cdc(spark, rows):
    return spark.createDataFrame(rows, CDC_SCHEMA)


def test_collapse_keeps_newest_per_key(spark):
    b = _cdc(spark, [
        ("a", 0, "user", 1.0, 10, False),
        ("a", 0, "user", 2.0, 30, False),   # newest for a
        ("a", 0, "user", 9.0, 20, False),
        ("b", 1, "user", 5.0, 7, True),     # newest for b: tombstone
        ("b", 1, "user", 4.0, 3, False),
    ])
    got = {r["conv_id"]: (r["ppl"], r["is_delete"])
           for r in collapse_cdc(b, "conv_id", "seq").collect()}
    assert got == {"a": (2.0, False), "b": (5.0, True)}


def test_apply_batch_upsert_delete_semantics(spark, table):
    batch = _cdc(spark, [
        # two changes to conv-1 in one epoch: update then tombstone —
        # the tombstone (higher seq) wins
        ("conv-1", 0, "user", 50.0, 1, False),
        ("conv-1", 0, "user", None, 2, True),
        # out-of-order changes to conv-2: seq 5 update beats seq 4
        ("conv-2", 0, "user", 70.0, 5, False),
        ("conv-2", 0, "user", 60.0, 4, False),
        # brand-new key
        ("fresh-1", 3, "assistant", 9.5, 1, False),
        # tombstone for a key the table never saw: no-op
        ("ghost-1", 0, "user", None, 1, True),
    ])
    s = apply_cdc_batch(spark, batch, table, key="conv_id",
                        sequence_col="seq", delete_col="is_delete")
    assert s["rows_deleted"] == 1 and s["rows_updated"] == 1
    assert s["rows_inserted"] == 1
    after = read_committed(spark, table)
    assert after.filter(F.col("conv_id") == "conv-1").count() == 0
    assert after.filter(F.col("conv_id") == "conv-2") \
        .collect()[0]["ppl"] == 70.0
    assert after.filter(F.col("conv_id") == "fresh-1").count() == 1
    assert after.filter(F.col("conv_id") == "ghost-1").count() == 0
    assert after.count() == 400  # -1 delete +1 insert


@pytest.fixture()
def stream_env(spark, table, tmp_path):
    import pandas as pd
    sdir = tmp_path / "cdc"
    sdir.mkdir()

    def _file(name, rows):
        pdf = pd.DataFrame(rows, columns=[
            "conv_id", "turn_idx", "role", "ppl", "seq", "is_delete"])
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["seq"] = pdf["seq"].astype("int64")
        pdf.to_parquet(str(sdir / name), index=False)

    # epoch-ish file 1: updates + an insert
    _file("d1.parquet", [
        ("conv-0", 0, "user", 111.0, 1, False),
        ("conv-5", 0, "user", 222.0, 1, False),
        ("live-1", 0, "user", 1.5, 1, False),
    ])
    # file 2: delete one of them, re-update the other, another insert
    _file("d2.parquet", [
        ("conv-0", 0, "user", None, 2, True),
        ("conv-5", 0, "user", 333.0, 2, False),
        ("live-2", 1, "user", 2.5, 1, False),
    ])
    return {"sdir": str(sdir), "tmp": tmp_path}


def _state(spark, table):
    return {r["conv_id"]: r["ppl"] for r in
            read_committed(spark, table)
            .select("conv_id", "ppl").collect()}


def test_stream_applies_epochs_in_order(spark, table, stream_env):
    q, summaries = run_apply_changes_stream(
        spark, stream_env["sdir"], table,
        checkpoint_dir=str(stream_env["tmp"] / "ckpt1"),
        schema=CDC_SCHEMA, max_files_per_trigger=1)
    assert len(summaries) == 2
    st = _state(spark, table)
    assert "conv-0" not in st            # deleted in epoch 2
    assert st["conv-5"] == 333.0         # last update wins
    assert st["live-1"] == 1.5 and st["live-2"] == 2.5
    assert len(st) == 400 - 1 + 2

    # restart on the SAME checkpoint: offsets fully consumed → no new
    # epochs, no new table versions
    led = make_ledger(table)
    v = led.latest_version()
    q2, s2 = run_apply_changes_stream(
        spark, stream_env["sdir"], table,
        checkpoint_dir=str(stream_env["tmp"] / "ckpt1"),
        schema=CDC_SCHEMA, max_files_per_trigger=1)
    assert s2 == [] and led.latest_version() == v


def test_redelivery_fresh_checkpoint_converges(spark, table, stream_env):
    """A whole re-process with a FRESH checkpoint re-merges every
    image; the merge is idempotent BY VALUE, so the table state is
    unchanged (same keys, same values) even though new versions may
    commit."""
    run_apply_changes_stream(
        spark, stream_env["sdir"], table,
        checkpoint_dir=str(stream_env["tmp"] / "ckptA"),
        schema=CDC_SCHEMA, max_files_per_trigger=1)
    before = _state(spark, table)
    run_apply_changes_stream(
        spark, stream_env["sdir"], table,
        checkpoint_dir=str(stream_env["tmp"] / "ckptB"),  # fresh
        schema=CDC_SCHEMA, max_files_per_trigger=1)
    assert _state(spark, table) == before


def test_auto_compaction_bounds_file_counts(spark, table, tmp_path):
    """Many small CDC epochs accrete one file per touched partition
    per epoch; compact_every keeps per-partition file counts bounded
    WITHOUT changing the table's contents."""
    import pandas as pd

    from curator_spark.checkpoint import make_ledger
    sdir = tmp_path / "cdc"
    sdir.mkdir()
    for j in range(8):   # 8 epochs, each touching the same keys
        pd.DataFrame({
            "conv_id": [f"conv-{i}" for i in range(10)],
            "turn_idx": pd.array([0] * 10, dtype="int32"),
            "role": ["user"] * 10,
            "ppl": [float(100 * j + i) for i in range(10)],
            "seq": pd.array([j] * 10, dtype="int64"),
            "is_delete": [False] * 10,
        }).to_parquet(str(sdir / f"e{j}.parquet"), index=False)
    q, summaries = run_apply_changes_stream(
        spark, str(sdir), table,
        checkpoint_dir=str(tmp_path / "ck"),
        schema=CDC_SCHEMA, max_files_per_trigger=1,
        compact_every=3, compact_target=2)
    assert len(summaries) == 8
    assert any("optimize" in s for s in summaries)
    led = make_ledger(table)
    worst = max(len((m or {}).get("files") or {})
                for m in led.committed().values())
    assert worst <= 2 + 3   # target + at most compact_every new epochs
    # contents: last epoch's values won, nothing lost
    st = _state(spark, table)
    assert len(st) == 400
    for i in range(10):
        assert st[f"conv-{i}"] == float(700 + i)


def test_replayed_epoch_is_skipped_before_any_work(spark, table):
    """Crash-replay of one epoch (foreachBatch at-least-once): the
    second application of the same (app, epoch) is a txn fast-path
    no-op."""
    batch = _cdc(spark, [("conv-9", 0, "user", 777.0, 1, False)])
    s1 = apply_cdc_batch(spark, batch, table, txn=("app-x", 42))
    assert s1["rows_updated"] == 1 and not s1["txn_skipped"]
    led = make_ledger(table)
    v = led.latest_version()
    s2 = apply_cdc_batch(spark, batch, table, txn=("app-x", 42))
    assert s2["txn_skipped"] and led.latest_version() == v

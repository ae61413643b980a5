"""RESTORE TABLE ... TO VERSION AS OF (checkpoint.restore_table):
rolling the live table back to an earlier commit version as ONE new
commit — partitions, run-success state, and table metadata together.
History is append-only (nothing is erased); the rolled-back era stays
time-travel-readable until vacuum reclaims its files, and the change
feed drops in-window inserts the rollback discarded. Reference
analogue: recovering an earlier run state from the durable
batch_objects.jsonl ledger (base_batch_request_processor.py:300-309),
promoted here to a first-class versioned table operation (Delta's
RESTORE)."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from conftest import copy_table
from curator_spark import fixtures
from curator_spark.checkpoint import (
    delete_conversations, make_ledger, read_committed, restore_table,
    run_checkpointed, table_changes, table_history, table_row_count,
    vacuum)
from curator_spark.incremental import append_new_conversations


@pytest.fixture(scope="module")
def built_table(spark, tmp_path_factory):
    """Two eras: base run (seed 61), then an appended disjoint batch
    (seed 62)."""
    tmp_path = tmp_path_factory.mktemp("restore")
    p1 = str(tmp_path / "b1.parquet")
    pdf1 = fixtures.write_transcripts_parquet(p1, 900, seed=61, n_parts=4)
    out = str(tmp_path / "out")
    run_checkpointed(spark, p1, out,
                     bucket={"col": "conv_id", "n_parts": 4,
                             "fn": "md5full"})
    ledger = make_ledger(out)
    v_base = ledger.latest_version()
    p2 = str(tmp_path / "b2.parquet")
    pdf2 = fixtures.write_transcripts_parquet(p2, 500, seed=62, n_parts=4)
    app = append_new_conversations(spark, p2, out)
    assert app["rows_appended"] > 0
    return {"out": out, "in1": p1, "pdf1": pdf1, "pdf2": pdf2,
            "v_base": v_base, "v_append": ledger.latest_version(),
            "rows_appended": app["rows_appended"]}


@pytest.fixture()
def table(built_table, tmp_path):
    """A private copy of the module's table for each test."""
    return dict(built_table,
                out=copy_table(built_table["out"], tmp_path / "out"))


def test_restore_reproduces_era_and_preserves_history(spark, table):
    out = table["out"]
    n_base = table_row_count(out, version=table["v_base"])

    r = restore_table(out, version=table["v_base"])
    assert r["restored_to"] == table["v_base"]
    assert r["version"] > table["v_append"]   # a NEW commit, not a rewind
    assert r["n_rows"] == n_base

    # live state == the restored era, exactly (metadata-only and scan)
    assert table_row_count(out) == n_base
    head = read_committed(spark, out)
    assert head.count() == n_base
    head_ids = {x.conv_id for x in head.select("conv_id").distinct().collect()}
    assert head_ids == set(table["pdf1"]["conv_id"].unique())

    # nothing was erased: the rolled-back era is still time-travel-
    # readable (its files survive until vacuum), and history grew
    assert table_row_count(out, version=table["v_append"]) \
        == n_base + table["rows_appended"]
    hist = table_history(out)
    assert "restore" in hist[-1]["operations"]

    # restore of the restore: roll forward again to the appended era
    r2 = restore_table(out, version=table["v_append"])
    assert r2["version"] > r["version"]
    assert table_row_count(out) == n_base + table["rows_appended"]


def test_restore_undeletes_and_as_of_timestamp(spark, table):
    out, pdf1 = table["out"], table["pdf1"]
    ids = sorted(pdf1["conv_id"].unique())[:2]
    n_target = int(pdf1["conv_id"].isin(ids).sum())
    pre_delete = datetime.now(timezone.utc)
    n_before = table_row_count(out)
    s = delete_conversations(spark, out, ids)
    assert s["rows_deleted"] == n_target
    assert table_row_count(out) == n_before - n_target

    # TIMESTAMP AS OF resolution: latest commit at or before the stamp
    r = restore_table(out, as_of=pre_delete)
    assert r["restored_to"] <= table["v_append"]
    assert table_row_count(out) == n_before
    head = read_committed(spark, out)
    got = head.where(head.conv_id.isin(list(ids)))
    assert got.count() == n_target       # the deleted rows are back


def test_vacuum_bounds_restore_and_historic_reads(spark, table):
    out = table["out"]
    restore_table(out, version=table["v_base"])
    # the appended era's files are now unreferenced orphans
    removed = vacuum(out, min_age_s=0)
    assert removed > 0
    # the head still reads fine after the reclaim
    assert read_committed(spark, out).count() \
        == table_row_count(out, version=table["v_base"])
    # the rolled-back era is gone: time travel AND restore both refuse
    # loudly past the retention window
    with pytest.raises(FileNotFoundError, match="vacuum"):
        read_committed(spark, out, version=table["v_append"]).count()
    with pytest.raises(FileNotFoundError, match="vacuum"):
        restore_table(out, version=table["v_append"])


def test_change_feed_drops_rolled_back_inserts(table):
    out = table["out"]
    # before the rollback the feed carries the appended batch
    ch = table_changes(out, since_version=table["v_base"])
    assert ch["rows_inserted"] == table["rows_appended"]
    restore_table(out, version=table["v_base"])
    # after it, those inserts are no longer live — feeding them would
    # hand a downstream trainer rows the table does not contain
    ch = table_changes(out, since_version=table["v_base"])
    assert ch["rows_inserted"] == 0 and not ch["inserts"]
    assert ch["rows_deleted"] == table["rows_appended"]


def test_restore_to_v0_then_rerun_recomputes(spark, table):
    out = table["out"]
    n_append_era = table_row_count(out)
    restore_table(out, version=0)
    assert table_row_count(out) == 0
    assert read_committed(spark, out).count() == 0
    # rollback-and-recompute: run-success and table meta rolled back
    # with the data, so the same job recomputes from scratch
    r = run_checkpointed(spark, table["in1"], out,
                         bucket={"col": "conv_id", "n_parts": 4,
                                 "fn": "md5full"})
    assert not r.get("memoized")
    assert table_row_count(out) == len(table["pdf1"])
    # and the pre-restore head is STILL reachable (append-only history)
    assert table_row_count(out, version=table["v_append"]) == n_append_era


def test_restore_refuses_markers_and_bad_args(table, legacy_markers_table):
    out = table["out"]
    with pytest.raises(ValueError, match="exactly one"):
        restore_table(out)
    with pytest.raises(ValueError, match="exactly one"):
        restore_table(out, version=1,
                      as_of=datetime.now(timezone.utc))
    with pytest.raises(ValueError, match="does not exist"):
        restore_table(out, version=10_000)
    with pytest.raises(ValueError, match="adopt_markers"):
        restore_table(legacy_markers_table, version=1)


def test_cli_restore_verb(table, capsys):
    from curator_spark import cli
    rc = cli.main(["--output", table["out"],
                   "--restore", str(table["v_base"])])
    assert rc == 0
    assert '"restored_to"' in capsys.readouterr().out
    assert table_row_count(table["out"]) \
        == table_row_count(table["out"], version=table["v_base"])


def test_vacuum_dry_run_counts_without_deleting(spark, table):
    """VACUUM ... DRY RUN: same liveness + age rules, zero deletions —
    audit the rolled-back era's blast radius before making it
    physical."""
    out = table["out"]
    restore_table(out, version=table["v_base"])
    n_dry = vacuum(out, min_age_s=0, dry_run=True)
    assert n_dry > 0
    # nothing was deleted: the rolled-back era still reads fine
    assert table_row_count(out, version=table["v_append"]) \
        == read_committed(spark, out, version=table["v_append"]).count()
    # the real pass reclaims exactly what the dry run promised
    assert vacuum(out, min_age_s=0) == n_dry
    with pytest.raises(FileNotFoundError, match="vacuum"):
        read_committed(spark, out, version=table["v_append"]).count()


def test_cli_restore_asof_rolls_back_without_spark(tmp_path):
    """--restore-asof resolves TIMESTAMP AS OF from the log alone (no
    Spark session) and publishes the rollback as a new commit."""
    import os
    import time as _time

    from curator_spark.checkpoint import make_ledger
    from curator_spark.cli import main

    out = str(tmp_path / "t")
    led = make_ledger(out)
    led.commit_part({"part": 0, "run_id": "r0", "status": "COMMITTED",
                     "n_rows": 5, "files": {"a.parquet": {"n_rows": 5}}})
    _time.sleep(1.1)  # commit timestamps are second-resolution ISO
    import datetime as _dt
    cut = _dt.datetime.now(_dt.timezone.utc).isoformat()
    _time.sleep(1.1)
    led.commit_part({"part": 1, "run_id": "r1", "status": "COMMITTED",
                     "n_rows": 3, "files": {"b.parquet": {"n_rows": 3}}})
    # restore requires referenced files to exist
    for p, fn in ((0, "a.parquet"), (1, "b.parquet")):
        d = os.path.join(out, "data", f"part={p}")
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, fn), "wb").close()
    assert set(led.committed()) == {0, 1}
    assert main(["--output", out, "--restore-asof", cut]) == 0
    assert set(led.committed()) == {0}          # rolled back to v1
    assert led.latest_version() == 3            # rollback grew history

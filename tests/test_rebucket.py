"""Whole-table bucket-spec change (checkpoint.rebucket_table —
Iceberg's REPLACE PARTITION SPEC made eager): row identity, new-layout
pruning, deletion-vector materialization, atomic stale-swap conflict,
time travel + RESTORE across the spec change, feed canonicalization,
run_checkpointed's spec-change refusal, protocol ratchet."""

from __future__ import annotations

import os

import pytest

from conftest import copy_table
from curator_spark import fixtures
from curator_spark.checkpoint import (
    BUCKET_FNS, ConcurrentRebucketError, delete_conversations,
    delete_rows_dv, make_ledger, read_committed, rebucket_table,
    restore_table, revalidate_committed, run_checkpointed,
    snapshot_files, table_changes, table_protocol, vacuum)

OLD = {"col": "conv_id", "n_parts": 4, "fn": "md5full"}
NEW = {"col": "conv_id", "n_parts": 8, "fn": "md5full"}


@pytest.fixture(scope="module")
def built_table(spark, tmp_path_factory):
    tmp_path = tmp_path_factory.mktemp("rebucket")
    p = str(tmp_path / "in.parquet")
    pdf = fixtures.write_transcripts_parquet(p, 1200, seed=61, n_parts=4)
    out = str(tmp_path / "out")
    run_checkpointed(spark, p, out,
                     bucket=dict(OLD))
    return {"out": out, "pdf": pdf}


@pytest.fixture()
def table(built_table, tmp_path):
    """A private copy of the module's table for each test."""
    return dict(built_table,
                out=copy_table(built_table["out"], tmp_path / "out"))


def _sorted_rows(spark, out, **kw):
    # `part` is layout metadata (derived from the directory): a
    # rebucket changes it BY DESIGN, so row identity is over the data
    # columns
    return read_committed(spark, out, **kw).drop("part").orderBy(
        "conv_id", "turn_idx").toPandas()


def test_rebucket_preserves_rows_and_relayouts(spark, table):
    out = table["out"]
    before = _sorted_rows(spark, out)
    r = rebucket_table(spark, out, dict(NEW))
    assert r["rebucketed"] and r["parts_before"] == 4
    assert r["n_rows"] == len(before)

    after = _sorted_rows(spark, out)
    assert before.equals(after)

    ledger = make_ledger(out)
    assert ledger.table_meta()["bucket"] == NEW
    committed = ledger.committed()
    # every committed partition number is the new transform of the
    # conv_ids it actually holds — layout and planning truth agree
    fn = BUCKET_FNS[NEW["fn"]]
    for part, marker in committed.items():
        pdir = os.path.join(out, "data", f"part={part}")
        got = (spark.read.parquet(
            *[os.path.join(pdir, f) for f in marker["files"]])
            .select("conv_id").distinct().collect())
        assert all(fn(row["conv_id"], NEW["n_parts"]) == part
                   for row in got)
    # revalidation accepts the new manifests wholesale
    valid, invalid = revalidate_committed(out, ledger=ledger)
    assert not invalid and valid == set(committed)


def test_rebucket_pruning_uses_new_spec(spark, table):
    out, pdf = table["out"], table["pdf"]
    rebucket_table(spark, out, dict(NEW))
    cid = sorted(pdf["conv_id"].unique())[0]
    fn = BUCKET_FNS[NEW["fn"]]
    want_part = fn(cid, NEW["n_parts"])
    paths = snapshot_files(out, where=[("conv_id", "=", cid)])
    # bucket-transform pruning pins the single new partition
    assert paths, "probe must keep at least one file"
    assert all(f"part={want_part}" in p for p in paths)
    got = read_committed(spark, out, where=[("conv_id", "=", cid)])
    assert got.filter(got.conv_id == cid).count() == \
        int((pdf["conv_id"] == cid).sum())
    # `in` keeps only the partitions its values hash to, and the
    # residual filter returns exactly their rows
    ids = sorted(pdf["conv_id"].unique())[:3]
    paths = snapshot_files(out, where=("conv_id", "in", ids))
    assert {int(p.split("part=")[1].split("/")[0]) for p in paths} \
        <= {fn(c, NEW["n_parts"]) for c in ids}
    got = read_committed(spark, out, where=("conv_id", "in", ids))
    assert got.count() == int(pdf["conv_id"].isin(ids).sum())


def test_rebucket_materializes_deletion_vectors(spark, table):
    out, pdf = table["out"], table["pdf"]
    victim = sorted(pdf["conv_id"].unique())[0]
    n_victim = int((pdf["conv_id"] == victim).sum())
    delete_rows_dv(spark, out, [victim])
    live_before = _sorted_rows(spark, out)
    assert len(live_before) == len(pdf) - n_victim

    r = rebucket_table(spark, out, dict(NEW))
    assert r["n_rows"] == len(live_before)
    after = _sorted_rows(spark, out)
    assert live_before.equals(after)
    # masks are materialized, not carried: no dv survives the rewrite
    for marker in make_ledger(out).committed().values():
        assert not marker.get("dv")


def test_stale_rebucket_raises_and_leaves_table_intact(spark, table,
                                                       tmp_path):
    out, pdf = table["out"], table["pdf"]
    ledger = make_ledger(out)
    before = _sorted_rows(spark, out)

    # inject a concurrent commit between rebucket's snapshot read and
    # its log append: wrap the ledger method run by rebucket_table
    real_append = type(ledger)._append

    def racing_append(self, actions, *args):
        if actions and actions[0].get("type") == "rebucket" \
                and not getattr(self, "_raced", False):
            self._raced = True
            # a concurrent delete swaps a live file out from under the
            # rebucket's expectation
            ids = [sorted(pdf["conv_id"].unique())[-1]]
            delete_conversations(spark, out, ids)
        return real_append(self, actions, *args)

    import curator_spark.checkpoint as cp
    orig = cp.CommitLogLedger._append
    cp.CommitLogLedger._append = racing_append
    try:
        with pytest.raises(ConcurrentRebucketError):
            rebucket_table(spark, out, dict(NEW))
    finally:
        cp.CommitLogLedger._append = orig

    # the table reflects ONLY the concurrent delete; the rebucket's
    # outputs are unreferenced orphans vacuum can count
    ledger = make_ledger(out)
    assert ledger.table_meta()["bucket"] == OLD
    loser = sorted(pdf["conv_id"].unique())[-1]
    after = _sorted_rows(spark, out)
    assert len(after) == len(before) - int(
        (pdf["conv_id"] == loser).sum())
    assert not any("rebucket-" in f
                   for m in ledger.committed().values()
                   for f in (m.get("files") or {}))
    assert vacuum(out, min_age_s=0, dry_run=True) > 0


def test_time_travel_and_restore_cross_the_spec_change(spark, table):
    out = table["out"]
    ledger = make_ledger(out)
    v_old = ledger.latest_version()
    before = _sorted_rows(spark, out)
    r = rebucket_table(spark, out, dict(NEW))

    # as-of the pre-rebucket version: old rows, old layout, old pruning
    asof = _sorted_rows(spark, out, version=v_old)
    assert before.equals(asof)
    cid = sorted(table["pdf"]["conv_id"].unique())[0]
    old_part = BUCKET_FNS[OLD["fn"]](cid, OLD["n_parts"])
    paths = snapshot_files(out, version=v_old,
                           where=[("conv_id", "=", cid)])
    assert paths and all(f"part={old_part}" in p for p in paths)

    # RESTORE rolls back data AND the spec facet together
    restore_table(out, version=v_old)
    assert make_ledger(out).table_meta()["bucket"] == OLD
    assert before.equals(_sorted_rows(spark, out))
    # ...and the rebucketed era stays time-travel-readable
    assert before.equals(_sorted_rows(spark, out, version=r["version"]))


def test_feed_canonicalizes_across_rebucket(spark, table, tmp_path):
    out, pdf = table["out"], table["pdf"]
    ledger = make_ledger(out)
    cursor = ledger.latest_version()

    # in-window activity: append new conversations, then rebucket, then
    # delete one of the APPENDED conversations under the new layout
    from curator_spark.incremental import append_new_conversations
    p2 = str(tmp_path / "b2.parquet")
    pdf2 = fixtures.write_transcripts_parquet(p2, 400, seed=62,
                                              n_parts=4)
    append_new_conversations(spark, p2, out)
    rebucket_table(spark, out, dict(NEW))
    victim = sorted(set(pdf2["conv_id"]) - set(pdf["conv_id"]))[0]
    delete_conversations(spark, out, [victim])

    ch = table_changes(out, cursor)
    from curator_spark.checkpoint import read_changes
    fed = read_changes(spark, out, cursor).toPandas()
    # the feed delivers every LIVE row (canonicalized to the new
    # layout: at-least-once re-feed of pre-window rows is allowed,
    # losing in-window appends or delivering deleted rows is not)
    live = _sorted_rows(spark, out)
    assert ch["rows_inserted"] == len(fed) == len(live)
    assert victim not in set(fed["conv_id"])
    appended = set(pdf2["conv_id"]) - set(pdf["conv_id"]) - {victim}
    assert appended <= set(fed["conv_id"])


def test_feed_ignores_rebucket_with_no_inwindow_activity(spark, table):
    out = table["out"]
    cursor = make_ledger(out).latest_version()
    rebucket_table(spark, out, dict(NEW))
    ch = table_changes(out, cursor)
    # row-preserving reorganization with nothing in-window: pre-window
    # rows were fed long ago and are unchanged — nothing to deliver
    assert ch["rows_inserted"] == 0 and ch["rows_deleted"] == 0


def test_run_checkpointed_refuses_spec_change_on_live_table(
        spark, table, tmp_path):
    out = table["out"]
    p = str(tmp_path / "in8.parquet")
    fixtures.write_transcripts_parquet(p, 300, seed=63, n_parts=8)
    with pytest.raises(ValueError, match="rebucket_table"):
        run_checkpointed(spark, p, out,
                         bucket={"col": "conv_id", "n_parts": 8,
                                 "fn": "md5full"})


def test_rebucket_ratchets_protocol_and_empty_table_spec_change(
        spark, tmp_path, table):
    out = table["out"]
    rebucket_table(spark, out, dict(NEW))
    proto = table_protocol(out)
    assert "rebucket" in proto["reader_features"]
    assert "rebucket" in proto["writer_features"]

    # an idempotent re-run is a no-op (no new version, no rewrite)
    ledger = make_ledger(out)
    v = ledger.latest_version()
    r = rebucket_table(spark, out, dict(NEW))
    assert not r["rebucketed"] and r["version"] == v

"""Row-level DELETE (checkpoint.delete_conversations): the
right-to-be-forgotten operation — bucket-transform + manifest-stats
pruning keep untouched files untouched, targeted files swap for their
filtered rewrites in ONE `delete` log version across all partitions,
time travel still shows the pre-delete table until vacuum makes the deletion
physical (Delta's DELETE semantics)."""

from __future__ import annotations

import pytest

from conftest import copy_table, multi_file_parts, part_file_counts
from curator_spark import fixtures
from curator_spark.checkpoint import (
    delete_conversations, make_ledger, read_committed, run_checkpointed,
    table_history, table_row_count, vacuum)


@pytest.fixture(scope="module")
def built_table(spark, tmp_path_factory):
    tmp_path = tmp_path_factory.mktemp("delete")
    p = str(tmp_path / "in.parquet")
    pdf = fixtures.write_transcripts_parquet(p, 1200, seed=51, n_parts=4)
    out = str(tmp_path / "out")
    # several files per part: the concurrent-compaction tests need a
    # part that compaction actually rewrites
    with multi_file_parts(spark):
        run_checkpointed(spark, p, out,
                         bucket={"col": "conv_id", "n_parts": 4,
                                 "fn": "md5full"})
    return {"out": out, "pdf": pdf, "inp": p}


@pytest.fixture()
def table(built_table, tmp_path):
    """A private copy of the module's table for each test."""
    return dict(built_table,
                out=copy_table(built_table["out"], tmp_path / "out"))


def test_delete_removes_targets_and_nothing_else(spark, table):
    out, pdf = table["out"], table["pdf"]
    ledger = make_ledger(out)
    v_before = ledger.latest_version()
    ids = sorted(pdf["conv_id"].unique())[:3]
    n_target = int(pdf["conv_id"].isin(ids).sum())

    before = read_committed(spark, out).orderBy(
        "conv_id", "turn_idx").toPandas()
    s = delete_conversations(spark, out, ids)
    assert s["rows_deleted"] == n_target
    assert s["files_untouched"] > 0          # pruning did real work
    # bucket pruning: only the partitions the ids hash to were touched
    want_parts = {fixtures.part_of(c, 4) for c in ids}
    assert set(s["parts_touched"]) <= want_parts

    after = read_committed(spark, out).orderBy(
        "conv_id", "turn_idx").toPandas()
    assert len(after) == len(before) - n_target
    assert not after["conv_id"].isin(ids).any()
    # survivors byte-identical
    survivors = before[~before["conv_id"].isin(ids)].reset_index(drop=True)
    assert survivors.equals(after.reset_index(drop=True))
    # metadata-only count tracks the deletion
    assert table_row_count(out) == len(after)
    # history names the delete
    ops = [op for h in table_history(out) for op in h["operations"]]
    assert "delete" in ops

    # time travel: the pre-delete snapshot still shows the rows...
    snap = read_committed(spark, out, version=v_before)
    assert snap.filter(snap.conv_id.isin([str(i) for i in ids])).count() \
        == n_target
    # ...until vacuum makes the deletion physical
    assert vacuum(out, min_age_s=0) > 0
    with pytest.raises(FileNotFoundError):
        read_committed(spark, out, version=v_before).count()
    assert read_committed(spark, out).count() == len(after)


def test_delete_missing_id_is_noop(spark, table):
    out = table["out"]
    n = table_row_count(out)
    v = make_ledger(out).latest_version()
    s = delete_conversations(spark, out, ["conv-9999-00000000"])
    assert s["rows_deleted"] == 0 and s["parts_touched"] == []
    assert table_row_count(out) == n
    # no delete version was committed for a no-op
    ops = [op for h in table_history(out)
           if h["version"] > v for op in h["operations"]]
    assert "delete" not in ops


def test_delete_refuses_markers_backend(spark, legacy_markers_table):
    with pytest.raises(ValueError, match="adopt_markers"):
        delete_conversations(spark, legacy_markers_table, ["c0"])


def test_delete_by_nullable_key_keeps_null_rows(spark, table):
    """Deleting on a NULLABLE key (any non-default key=): rows whose key
    is NULL are not targets and must SURVIVE the rewrite — `~isin`
    alone evaluates to NULL for them and would silently delete
    untargeted rows."""
    out = table["out"]
    before = read_committed(spark, out)
    tools = [r.tool for r in before.select("tool").distinct().collect()
             if r.tool is not None]
    target = sorted(tools)[0]
    n_target = before.filter(before.tool == target).count()
    n_null = before.filter(before.tool.isNull()).count()
    assert n_target > 0 and n_null > 0
    s = delete_conversations(spark, out, [target], key="tool")
    assert s["rows_deleted"] == n_target
    after = read_committed(spark, out)
    assert after.filter(after.tool == target).count() == 0
    # the NULL-key rows all survived
    assert after.filter(after.tool.isNull()).count() == n_null
    assert after.count() == before.count() - n_target


def test_delete_conflicting_with_concurrent_compaction_raises(
        spark, table, monkeypatch):
    """DELETE vs concurrent OPTIMIZE: a compaction that replaces a
    candidate file between the delete's snapshot read and its commit
    makes the swap stale — replay ignores it, so the delete MUST raise
    (Delta's conflict rule) instead of reporting rows_deleted while the
    rows stay live."""
    from curator_spark.checkpoint import (
        CommitLogLedger, ConcurrentDeleteError, compact_partition)
    out, pdf = table["out"], table["pdf"]
    ids = sorted(pdf["conv_id"].unique())[:3]
    n_before = table_row_count(out)

    orig = CommitLogLedger.merge_commit

    def racing(self, actions, **kw):
        # a concurrent writer compacts a touched partition AFTER the
        # delete read its snapshot and BEFORE its commit lands
        part = int(actions[0]["part"])
        assert part_file_counts(out)[part] >= 2  # compaction rewrites it
        compact_partition(spark, out, part, target_files=1)
        return orig(self, actions, **kw)

    monkeypatch.setattr(CommitLogLedger, "merge_commit", racing)
    with pytest.raises(ConcurrentDeleteError, match="concurrent"):
        delete_conversations(spark, out, ids)
    monkeypatch.undo()
    # the stale swap was ignored: no rows were lost
    assert table_row_count(out) == n_before
    assert read_committed(spark, out).count() == n_before
    # the retry against the fresh snapshot succeeds
    n_target = int(pdf["conv_id"].isin(ids).sum())
    s = delete_conversations(spark, out, ids)
    assert s["rows_deleted"] == n_target
    assert table_row_count(out) == n_before - n_target


def test_delete_failing_mid_way_leaves_table_unchanged(spark, table,
                                                       monkeypatch):
    """A key delete spanning partitions is all or nothing: a failure
    rewriting the second partition must not leave the first one's
    deletion committed (a half-applied right-to-be-forgotten request
    visible to readers)."""
    import curator_spark.checkpoint as ck
    out, pdf = table["out"], table["pdf"]
    # one target per partition, so the delete spans all four
    ids = [pdf.loc[pdf["part"] == p, "conv_id"].iloc[0] for p in range(4)]
    led = make_ledger(out)
    v0, n0 = led.latest_version(), table_row_count(out)
    orig, calls = ck._rewrite_files, []

    def failing_second(*a, **k):
        calls.append(a[3])
        if len(calls) == 2:
            raise RuntimeError("injected rewrite failure")
        return orig(*a, **k)

    monkeypatch.setattr(ck, "_rewrite_files", failing_second)
    with pytest.raises(RuntimeError, match="injected"):
        delete_conversations(spark, out, ids)
    monkeypatch.undo()
    assert len(calls) == 2
    assert led.latest_version() == v0
    assert table_row_count(out) == n0
    # the retry deletes every target in one version
    s = delete_conversations(spark, out, ids)
    assert s["rows_deleted"] == int(pdf["conv_id"].isin(ids).sum())
    assert len(s["parts_touched"]) == 4
    assert led.latest_version() == v0 + 1


def test_rerun_after_delete_does_not_resurrect(spark, table):
    """Deletion is administrative table state, not run state: re-running
    the same checkpointed job afterwards memoizes (manifests still
    validate — the delete updated them consistently) and must NOT
    recompute the partition and resurrect the deleted rows."""
    out, pdf = table["out"], table["pdf"]
    ids = sorted(pdf["conv_id"].unique())[:1]
    delete_conversations(spark, out, ids)
    n_after = read_committed(spark, out).count()
    # same input path + params → same run fingerprint
    r = run_checkpointed(spark, table["inp"], out,
                         bucket={"col": "conv_id", "n_parts": 4,
                                 "fn": "md5full"})
    assert r["memoized"] and r["parts_invalidated"] == 0
    assert read_committed(spark, out).count() == n_after


def test_delete_matching_dataframe_keys(spark, table):
    """delete_matching: the DataFrame-of-keys DELETE — bucket pruning
    happens distributedly (pandas-UDF bucket transform, O(n_parts)
    driver state), NULL keys are dropped from the target set, absent
    keys are no-ops, survivors are byte-identical."""
    from curator_spark.checkpoint import delete_matching
    out, pdf = table["out"], table["pdf"]
    ids = sorted(pdf["conv_id"].unique())[:3]
    n_target = int(pdf["conv_id"].isin(ids).sum())
    before = read_committed(spark, out).orderBy(
        "conv_id", "turn_idx").toPandas()

    keys = spark.createDataFrame(
        [(i,) for i in ids] + [(None,), ("conv-9999-00000000",), (ids[0],)],
        "conv_id string")
    s = delete_matching(spark, out, keys)
    assert s["n_keys"] == len(ids) + 1            # distinct, NULL dropped
    assert s["rows_deleted"] == n_target
    assert s["files_untouched"] > 0               # pruning did real work
    want_parts = {fixtures.part_of(c, 4) for c in ids}
    assert set(s["parts_touched"]) <= want_parts

    after = read_committed(spark, out).orderBy(
        "conv_id", "turn_idx").toPandas()
    survivors = before[~before["conv_id"].isin(ids)].reset_index(drop=True)
    assert survivors.equals(after.reset_index(drop=True))
    # empty key set: pure no-op, no commit
    led = make_ledger(out)
    v = led.latest_version()
    s0 = delete_matching(spark, out, keys.filter("conv_id IS NULL"))
    assert s0["n_keys"] == 0 and s0["rows_deleted"] == 0
    assert led.latest_version() == v

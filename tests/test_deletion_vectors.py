"""Deletion vectors (Delta's DV table feature, inlined in the log):
row-level DELETE marks positions of immutable files deleted instead of
rewriting them — O(k) log bytes for a k-row delete. Reads apply the
mask via `_metadata.file_path`/`row_index` (expression plan for small
masks, broadcast anti-join past the threshold — both shuffle-free on
the corpus side); compaction MATERIALIZES masks; the feature is
protocol-gated so a build that would not apply masks refuses the table
wholesale instead of resurrecting deleted rows.
"""

from __future__ import annotations

import pytest

from conftest import copy_table, multi_file_parts, part_file_counts
from curator_spark import fixtures
from curator_spark import cdf
from curator_spark.checkpoint import (
    ConcurrentDeleteError, ProtocolError, compact_partition,
    delete_conversations, delete_rows_dv, make_ledger, read_committed,
    restore_table, run_checkpointed, table_changes, table_column_minmax,
    table_protocol, table_row_count)


def _ms(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols)
                  for r in df.select(*cols).collect())


@pytest.fixture(scope="module")
def built_table(spark, tmp_path_factory):
    tmp_path = tmp_path_factory.mktemp("dv")
    p1 = str(tmp_path / "b1.parquet")
    fixtures.write_transcripts_parquet(p1, 900, seed=31, n_parts=4)
    out = str(tmp_path / "out")
    # several files per part: the stale-mark tests need a part that
    # compaction actually rewrites
    with multi_file_parts(spark):
        run_checkpointed(spark, p1, out)
    return out


@pytest.fixture()
def table(built_table, tmp_path):
    """A private copy of the module's table for each test."""
    return copy_table(built_table, tmp_path / "out")


def _victims(spark, out, n=3):
    return [r.conv_id for r in read_committed(spark, out)
            .select("conv_id").distinct().limit(n).collect()]


def test_dv_delete_masks_rows_without_rewriting(spark, table):
    led = make_ledger(table)
    files_before = {p: set((m or {}).get("files") or {})
                    for p, m in led.committed().items()}
    live = read_committed(spark, table)
    n0 = live.count()
    vs = _victims(spark, table)
    want_gone = live.filter(live.conv_id.isin(vs)).count()

    s = delete_rows_dv(spark, table, vs)
    assert s["rows_deleted"] == want_gone and s["files_marked"] > 0

    after = read_committed(spark, table)
    assert after.count() == n0 - want_gone
    assert after.filter(after.conv_id.isin(vs)).count() == 0
    # NO file was rewritten: identical manifests, only masks changed
    files_after = {p: set((m or {}).get("files") or {})
                   for p, m in led.committed().items()}
    assert files_after == files_before
    # metadata-only COUNT agrees; MIN/MAX degrades to a bound honestly
    assert table_row_count(table) == n0 - want_gone
    assert table_column_minmax(table, "conv_id")["complete"] is False


def test_dv_result_matches_rewrite_delete(spark, table, tmp_path):
    """DV delete and rewrite delete are the same logical operation:
    identical surviving rows on an identical starting table."""
    p2 = str(tmp_path / "twin.parquet")
    fixtures.write_transcripts_parquet(p2, 900, seed=31, n_parts=4)
    twin = str(tmp_path / "twin_out")
    run_checkpointed(spark, p2, twin)
    vs = _victims(spark, table)
    s_dv = delete_rows_dv(spark, table, vs)
    s_rw = delete_conversations(spark, twin, vs)
    assert s_dv["rows_deleted"] == s_rw["rows_deleted"] > 0
    assert _ms(read_committed(spark, table)) == \
        _ms(read_committed(spark, twin))


def test_dv_is_protocol_gated(spark, table, monkeypatch):
    """The first dv ratchets `deletion-vectors` into the reader
    requirement; a build without the feature must refuse the whole
    table (reading it would resurrect deleted rows)."""
    import curator_spark.checkpoint as cp
    assert "deletion-vectors" not in \
        table_protocol(table)["reader_features"]
    delete_rows_dv(spark, table, _victims(spark, table, 1))
    assert "deletion-vectors" in table_protocol(table)["reader_features"]
    # simulate the OLD build: same code, feature set without dv
    monkeypatch.setattr(
        cp, "SUPPORTED_READER_FEATURES",
        frozenset(cp.SUPPORTED_READER_FEATURES - {"deletion-vectors"}))
    with pytest.raises(ProtocolError, match="deletion-vectors"):
        read_committed(spark, table).count()


def test_compaction_materializes_masks(spark, table):
    vs = _victims(spark, table)
    delete_rows_dv(spark, table, vs)
    want = _ms(read_committed(spark, table))
    led = make_ledger(table)
    for p, m in sorted(led.committed().items()):
        if (m or {}).get("dv"):
            assert compact_partition(spark, table, p)["compacted"]
    # rows identical, masks gone (purged), deleted rows NOT resurrected
    assert _ms(read_committed(spark, table)) == want
    assert not any((m or {}).get("dv")
                   for m in led.committed().values())


def test_rewrite_delete_on_masked_files_keeps_masks_applied(spark, table):
    """A rewrite delete touching files that already carry masks must
    materialize those masks too — never resurrect dv-deleted rows."""
    a, b, c = _victims(spark, table, 3)
    delete_rows_dv(spark, table, [a])
    want = _ms(read_committed(spark, table)
               .where(f"conv_id not in ('{b}', '{c}')"))
    delete_conversations(spark, table, [b, c])
    assert _ms(read_committed(spark, table)) == want


def test_dv_time_travel_and_restore(spark, table):
    led = make_ledger(table)
    v0 = led.latest_version()
    n0 = read_committed(spark, table).count()
    s = delete_rows_dv(spark, table, _victims(spark, table))
    n1 = read_committed(spark, table).count()
    assert n1 == n0 - s["rows_deleted"]
    # the pre-dv snapshot still reads every row
    assert read_committed(spark, table, version=v0).count() == n0
    # restore to pre-dv: rows come back (rollback restores data)...
    restore_table(table, version=v0)
    assert read_committed(spark, table).count() == n0
    # ...but the PROTOCOL requirement survives the rollback
    assert "deletion-vectors" in table_protocol(table)["reader_features"]


def test_dv_change_feed_and_row_feed(spark, table):
    led = make_ledger(table)
    head0 = led.latest_version()
    live = read_committed(spark, table)
    vs = _victims(spark, table)
    victim_rows = _ms(live.filter(live.conv_id.isin(vs)))
    s = delete_rows_dv(spark, table, vs)

    # insert feed: full-history bootstrap == live table (dv applied)
    ch = table_changes(table, 0)
    assert ch["rows_inserted"] == read_committed(spark, table).count()
    # the window reports the forget signal
    chw = table_changes(table, head0)
    assert chw["rows_deleted"] == s["rows_deleted"]

    # row feed: the window's delta is exactly the victims' rows as
    # deletes — file identity includes the mask, so the masked files
    # appear on both sides and their surviving rows cancel
    delta = cdf.row_changes(spark, table, head0)
    dels = delta.filter(f"{cdf.CHANGE_COL} = 'delete'") \
        .drop(cdf.CHANGE_COL)
    assert _ms(dels) == victim_rows
    assert delta.filter(f"{cdf.CHANGE_COL} = 'insert'").count() == 0


def test_dv_broadcast_join_path_matches_expression_path(spark, table,
                                                        monkeypatch):
    """Past the inline threshold _apply_dv switches from the literal
    predicate to a broadcast anti-join — same rows either way."""
    import curator_spark.checkpoint as cp
    vs = _victims(spark, table)
    delete_rows_dv(spark, table, vs)
    want = _ms(read_committed(spark, table))
    real = cp._apply_dv

    def force_join(spark_, df, dv):
        if not dv:
            return df
        # shrink the threshold to 0 so the join path always runs
        total_pairs = [(cp._dv_suffix(p), int(r))
                       for p, rows in dv.items() for r in rows]
        assert total_pairs
        from pyspark.sql import functions as F
        dv_df = spark_.createDataFrame(total_pairs,
                                       ["_dv_suffix", "_dv_row"])
        parts_ = F.split(F.col("_metadata.file_path"), "/")
        keyed = df.withColumn(
            "_dv_suffix", F.concat_ws("/", F.element_at(parts_, -2),
                                      F.element_at(parts_, -1))) \
            .withColumn("_dv_row", F.col("_metadata.row_index"))
        return (keyed.join(F.broadcast(dv_df),
                           ["_dv_suffix", "_dv_row"], "left_anti")
                .drop("_dv_suffix", "_dv_row"))

    monkeypatch.setattr(cp, "_apply_dv", force_join)
    assert _ms(read_committed(spark, table)) == want
    monkeypatch.setattr(cp, "_apply_dv", real)


def test_dv_stale_mark_raises_conflict(spark, table):
    """A dv committed after a concurrent rewrite displaced its file is
    ignored by replay — the caller must hear about it (a silently
    no-opped right-to-be-forgotten is the one unacceptable outcome)."""
    import curator_spark.checkpoint as cp
    led = make_ledger(table)
    vs = _victims(spark, table, 1)
    real_add_dv = cp.CommitLogLedger.add_dv

    def racing_add_dv(self, marks, **kw):
        # a concurrent compaction swaps the target partition's files
        # between our snapshot and our commit
        for p in sorted({m[0] for m in marks}):
            assert part_file_counts(table)[p] >= 2  # compaction rewrites
            compact_partition(spark, table, p)
        return real_add_dv(self, marks, **kw)

    try:
        cp.CommitLogLedger.add_dv = racing_add_dv
        with pytest.raises(ConcurrentDeleteError):
            delete_rows_dv(spark, table, vs)
    finally:
        cp.CommitLogLedger.add_dv = real_add_dv
    # and the rows are still live (nothing was silently lost)
    assert read_committed(spark, table) \
        .filter(f"conv_id = '{vs[0]}'").count() > 0


def test_dv_stale_part_leaves_table_unchanged(spark, table):
    """A dv delete spanning several parts is all or nothing under a
    concurrent compaction of one of them: the stale mark abandons the
    whole version, so no other part's mark publishes either."""
    import curator_spark.checkpoint as cp
    from pyspark.sql import functions as F
    vs = [r[0] for r in read_committed(spark, table).groupBy("part")
          .agg(F.min("conv_id")).select("min(conv_id)").collect()]
    before = _ms(read_committed(spark, table))
    real_add_dv = cp.CommitLogLedger.add_dv

    def racing_add_dv(self, marks, **kw):
        parts = sorted({m[0] for m in marks})
        assert len(parts) >= 2
        assert part_file_counts(table)[parts[-1]] >= 2
        compact_partition(spark, table, parts[-1])
        return real_add_dv(self, marks, **kw)

    try:
        cp.CommitLogLedger.add_dv = racing_add_dv
        with pytest.raises(ConcurrentDeleteError):
            delete_rows_dv(spark, table, vs)
    finally:
        cp.CommitLogLedger.add_dv = real_add_dv
    assert _ms(read_committed(spark, table)) == before
    assert not any((m or {}).get("dv")
                   for m in make_ledger(table).committed().values())


def test_dv_datasource_read_applies_masks(spark, table):
    from curator_spark.datasource import CuratorTableDataSource
    spark.dataSource.register(CuratorTableDataSource)
    delete_rows_dv(spark, table, _victims(spark, table))
    got = spark.read.format("curator_table").load(table)
    assert _ms(got) == _ms(read_committed(spark, table))

"""Change-data feed (checkpoint.table_changes / read_changes): the
incremental-consumption story — a downstream trainer reads only the
rows inserted since the version it last processed; compaction rewrites
never duplicate the feed; vacuum bounds it exactly like time travel."""

from __future__ import annotations

import pytest

from conftest import copy_table
from curator_spark import fixtures
from curator_spark.checkpoint import (
    compact_partition, make_ledger, read_changes, read_committed,
    run_checkpointed, table_changes, vacuum)
from curator_spark.incremental import append_new_conversations


@pytest.fixture(scope="module")
def built_table(spark, tmp_path_factory):
    tmp_path = tmp_path_factory.mktemp("changes")
    p1 = str(tmp_path / "b1.parquet")
    b1 = fixtures.write_transcripts_parquet(p1, 900, seed=71, n_parts=4)
    out = str(tmp_path / "out")
    run_checkpointed(spark, p1, out)
    v1 = make_ledger(out).latest_version()
    p2 = str(tmp_path / "b2.parquet")
    b2 = fixtures.generate_transcripts(400, seed=72, n_parts=4)
    fixtures.to_spark_parquet(b2, p2)
    app = append_new_conversations(spark, p2, out)
    return {"out": out, "b1": b1, "b2": b2, "v1": v1,
            "appended": app["rows_appended"]}


@pytest.fixture()
def table(built_table, tmp_path):
    """A private copy of the module's table for each test."""
    return dict(built_table,
                out=copy_table(built_table["out"], tmp_path / "out"))


def test_changes_since_base_are_exactly_the_appended_rows(spark, table):
    out = table["out"]
    ch = table_changes(out, table["v1"])
    assert ch["rows_inserted"] == table["appended"]
    assert ch["rows_deleted"] == 0 and ch["parts_recomputed"] == []
    feed = read_changes(spark, out, table["v1"])
    assert feed.count() == table["appended"]
    ids = {r.conv_id for r in feed.select("conv_id").distinct().collect()}
    assert ids <= set(table["b2"]["conv_id"].unique())
    # full-history feed covers the whole table
    assert read_changes(spark, out, 0).count() == \
        read_committed(spark, out).count()


def test_compaction_does_not_duplicate_the_feed(spark, table):
    out = table["out"]
    before = read_changes(spark, out, table["v1"]).count()
    led = make_ledger(out)
    part = max(led.committed(),
               key=lambda p: len(led.committed()[p]["files"]))
    assert compact_partition(spark, out, part)["compacted"]
    # rewrites are not inserts: same feed, same rows (original files
    # still on disk until vacuum)
    assert read_changes(spark, out, table["v1"]).count() == before
    ch = table_changes(out, table["v1"])
    assert ch["rows_inserted"] == before
    # vacuum reclaims the superseded originals → the feed raises loudly
    assert vacuum(out, min_age_s=0) > 0
    with pytest.raises(FileNotFoundError, match="vacuum"):
        read_changes(spark, out, 0).count()


def test_changes_requires_commitlog_and_valid_versions(table,
                                                      legacy_markers_table):
    with pytest.raises(ValueError, match="does not exist"):
        table_changes(table["out"], 0, until_version=10_000)
    with pytest.raises(ValueError, match="adopt_markers"):
        table_changes(legacy_markers_table, 0)


def test_changes_since_beyond_log_raises(table):
    with pytest.raises(ValueError, match="does not exist"):
        table_changes(table["out"], 10_000)


def test_pre_window_delete_still_reports_rows_deleted(spark, table):
    """The common forget shape: a consumer's cursor is at head (its
    polls long ago fed the rows), THEN old conversations are deleted.
    The window holds no in-window inserts, so nothing re-feeds — but
    rows_deleted must still report the shrink: it is the downstream
    right-to-be-forgotten signal, and a regular poller would otherwise
    never learn rows were deleted."""
    from curator_spark.checkpoint import delete_conversations
    out = table["out"]
    head = make_ledger(out).latest_version()
    ids = sorted(r.conv_id for r in read_committed(spark, out)
                 .select("conv_id").distinct().limit(2).collect())
    s = delete_conversations(spark, out, ids)
    assert s["rows_deleted"] > 0
    ch = table_changes(out, since_version=head)
    assert ch["rows_inserted"] == 0          # nothing re-feeds
    assert ch["rows_deleted"] == s["rows_deleted"]


def test_partition_remove_reports_full_shrink(spark, table):
    """Dropping a whole partition whose rows were fed PRE-window:
    rows_deleted reports the partition's full live row count, not just
    its (empty) in-window insert total."""
    out = table["out"]
    led = make_ledger(out)
    head = led.latest_version()
    part, marker = next(iter(sorted(led.committed().items())))
    n_part = sum(int(m.get("n_rows", 0))
                 for m in (marker.get("files") or {}).values())
    assert n_part > 0
    led.drop_part(part)
    ch = table_changes(out, since_version=head)
    assert ch["rows_inserted"] == 0
    assert ch["rows_deleted"] == n_part


def test_bootstrap_feed_after_delete_equals_table(spark, table):
    """A row-level DELETE swaps touched files for filtered rewrites; a
    consumer that bootstraps AFTERWARDS (cursor 0) must still receive
    exactly the live table — the rewrite's SURVIVING rows replace the
    displaced originals in the feed, they don't vanish with them."""
    from curator_spark.checkpoint import delete_conversations, read_changes
    out = table["out"]
    head0 = read_committed(spark, out)
    ids = sorted(r.conv_id for r in
                 head0.select("conv_id").distinct().limit(2).collect())
    s = delete_conversations(spark, out, ids)
    assert s["rows_deleted"] > 0 and s["files_rewritten"] > 0
    live = read_committed(spark, out).orderBy("conv_id", "turn_idx") \
        .toPandas()
    boot = read_changes(spark, out, since_version=0) \
        .orderBy("conv_id", "turn_idx").toPandas()
    assert len(boot) == len(live)
    assert boot[["conv_id", "turn_idx", "text"]].equals(
        live[["conv_id", "turn_idx", "text"]])

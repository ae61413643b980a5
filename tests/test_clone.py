"""SHALLOW CLONE (curator_spark.clone.clone_table): zero-copy fork of
a committed table at a version. The clone must (a) read identically to
the cloned snapshot, (b) share inodes with the source (hard links, no
data copy), (c) evolve fully independently afterwards — writes, DELETE
and vacuum on either side never leak into the other — and (d) carry
the source's table metadata (schema, constraints) and writer txn
marks."""

from __future__ import annotations

import os

import pytest

from conftest import copy_table
from curator_spark import fixtures
from curator_spark.checkpoint import (
    compact_partition, delete_conversations, make_ledger, read_committed,
    run_checkpointed, table_row_count, vacuum)
from curator_spark.clone import clone_table
from curator_spark.incremental import append_new_conversations


@pytest.fixture(scope="module")
def built_table(spark, tmp_path_factory):
    tmp_path = tmp_path_factory.mktemp("clone")
    p1 = str(tmp_path / "b1.parquet")
    fixtures.write_transcripts_parquet(p1, 800, seed=71, n_parts=4)
    out = str(tmp_path / "src")
    run_checkpointed(spark, p1, out)
    ledger = make_ledger(out)
    v_base = ledger.latest_version()
    p2 = str(tmp_path / "b2.parquet")
    fixtures.write_transcripts_parquet(p2, 400, seed=72, n_parts=4)
    append_new_conversations(spark, p2, out)
    return {"out": out, "v_base": v_base}


@pytest.fixture()
def table(built_table, tmp_path):
    """A private copy of the module's table for each test."""
    return dict(built_table,
                out=copy_table(built_table["out"], tmp_path / "src"),
                clone=str(tmp_path / "fork"))


def _rows(spark, d, **kw):
    return {tuple(r) for r in
            read_committed(spark, d, **kw)
            .select("conv_id", "turn_idx", "scrubbed_text").collect()}


def test_clone_reads_identically_and_shares_inodes(spark, table):
    out, dst = table["out"], table["clone"]
    info = clone_table(out, dst)
    assert info["n_rows"] == table_row_count(out)
    assert info["copied"] == 0 and info["linked"] == info["n_files"] > 0
    assert _rows(spark, dst) == _rows(spark, out)
    # zero-copy: every cloned file is the SAME inode as the source's
    for part_d in os.listdir(os.path.join(dst, "data")):
        for fn in os.listdir(os.path.join(dst, "data", part_d)):
            assert os.path.samefile(
                os.path.join(out, "data", part_d, fn),
                os.path.join(dst, "data", part_d, fn))


def test_clone_at_version_equals_time_travel(spark, table):
    out, dst = table["out"], table["clone"]
    info = clone_table(out, dst, version=table["v_base"])
    assert info["cloned_version"] == table["v_base"]
    assert _rows(spark, dst) == _rows(spark, out,
                                      version=table["v_base"])
    assert table_row_count(dst) == table_row_count(
        out, version=table["v_base"])


def test_clone_evolves_independently(spark, table):
    out, dst = table["out"], table["clone"]
    clone_table(out, dst)
    before_src = _rows(spark, out)
    # DELETE on the clone: rewrites land in the CLONE's dir only
    victim = next(iter(before_src))[0]
    d = delete_conversations(spark, dst, [victim])
    assert d["rows_deleted"] > 0
    assert victim not in {t[0] for t in _rows(spark, dst)}
    assert _rows(spark, out) == before_src  # source untouched
    # append to the SOURCE: clone must not see it
    n_clone = table_row_count(dst)
    p3 = os.path.join(os.path.dirname(out), "b3.parquet")
    fixtures.write_transcripts_parquet(p3, 300, seed=73, n_parts=4)
    app = append_new_conversations(spark, p3, out)
    assert app["rows_appended"] > 0
    assert table_row_count(dst) == n_clone


def test_vacuum_on_source_never_breaks_the_clone(spark, table):
    """Compacting + vacuuming the SOURCE unlinks the source's names
    for the old files; the clone's hard links keep the bytes alive
    and the clone still reads exactly its snapshot."""
    out, dst = table["out"], table["clone"]
    clone_table(out, dst)
    want = _rows(spark, dst)
    for part in range(4):
        compact_partition(spark, out, part, target_files=1)
    removed = vacuum(out, min_age_s=0.0)
    assert removed > 0  # the pre-compaction originals left the source
    assert _rows(spark, dst) == want
    # and the reverse: vacuum on the clone is a no-op for the source
    assert vacuum(dst, min_age_s=0.0) == 0
    assert _rows(spark, out) is not None


def test_clone_carries_txn_marks_and_refuses_overwrite(spark, table):
    out, dst = table["out"], table["clone"]
    make_ledger(out).set_txn("stream-app", 7)
    clone_table(out, dst)
    assert make_ledger(dst).last_txn("stream-app") == 7
    with pytest.raises(ValueError, match="already a table"):
        clone_table(out, dst)


def test_clone_refuses_markers_backend(legacy_markers_table, tmp_path):
    with pytest.raises(ValueError, match="adopt_markers"):
        clone_table(legacy_markers_table, str(tmp_path / "f"))
    with pytest.raises(ValueError, match="no commit log"):
        clone_table(str(tmp_path / "empty"), str(tmp_path / "g"))


def test_cli_clone_verb(spark, table, capsys):
    import json

    from curator_spark.cli import main
    out, dst = table["out"], table["clone"]
    assert main(["--output", out, "--clone", dst,
                 "--clone-version", str(table["v_base"])]) == 0
    info = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert info["cloned_version"] == table["v_base"]
    assert info["copied"] == 0 and info["linked"] > 0
    assert table_row_count(dst) == table_row_count(
        out, version=table["v_base"])

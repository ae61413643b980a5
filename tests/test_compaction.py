"""Small-file compaction (checkpoint.compact_partition): row-identity,
manifest swap, vacuum of displaced files, revalidation, stale-swap
conflict rule, legacy marker-table refusal."""

from __future__ import annotations

import json
import os

import pytest

from curator_spark import fixtures
from curator_spark.checkpoint import (
    compact_partition, make_ledger, read_committed, revalidate_committed,
    run_checkpointed, vacuum)
from curator_spark.incremental import append_new_conversations


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """A commitlog table where every partition holds files from the base
    run plus an incremental append — the multi-small-file shape."""
    base = tmp_path_factory.mktemp("compact")
    b1 = fixtures.generate_transcripts(1500, seed=31, n_parts=4)
    p1 = str(base / "b1.parquet")
    fixtures.to_spark_parquet(b1, p1)
    out = str(base / "out")
    run_checkpointed(spark, p1, out)
    b2 = fixtures.generate_transcripts(900, seed=32, n_parts=4)
    p2 = str(base / "b2.parquet")
    fixtures.to_spark_parquet(b2, p2)
    append_new_conversations(spark, p2, out)
    return out


def _files_of(out, part):
    m = make_ledger(out).committed()[part]
    return dict(m["files"])


def test_compact_preserves_rows_and_swaps_manifest(spark, table):
    before = read_committed(spark, table).orderBy(
        "conv_id", "turn_idx").toPandas()
    part = 0
    files0 = _files_of(table, part)
    assert len(files0) >= 2, "fixture should have multi-file partitions"

    r = compact_partition(spark, table, part)
    assert r["compacted"] and r["files_after"] == 1
    assert r["files_before"] == len(files0)

    files1 = _files_of(table, part)
    assert len(files1) == 1
    assert set(files1) & set(files0) == set()
    assert sum(v["n_rows"] for v in files1.values()) == \
        sum(v["n_rows"] for v in files0.values())

    after = read_committed(spark, table).orderBy(
        "conv_id", "turn_idx").toPandas()
    assert before.equals(after)

    # displaced files are orphans now; vacuum reclaims exactly them
    pdir = os.path.join(table, "data", f"part={part}")
    assert set(files0) <= set(os.listdir(pdir))
    removed = vacuum(table, min_age_s=0)
    assert removed >= len(files0)
    assert set(files0) & set(os.listdir(pdir)) == set()

    # integrity: the compacted manifest revalidates clean
    done, invalidated = revalidate_committed(
        table, make_ledger(table))
    assert part in done and part not in invalidated

    # identical data still served after vacuum
    assert read_committed(spark, table).count() == len(before)


def test_compact_noop_when_already_small(spark, table):
    part = 0  # compacted to 1 file by the previous test
    r = compact_partition(spark, table, part, target_files=4)
    assert not r["compacted"]
    assert r["files_before"] == r["files_after"]


def test_stale_compaction_is_ignored_at_replay(spark, table):
    """A compact action whose source files are no longer referenced
    (concurrent recompute) must not alter the manifest."""
    part = 1
    ledger = make_ledger(table)
    before = ledger.committed()[part]["files"]
    ledger.compact_part(part, ["no-such-file.parquet"],
                        {"ghost.parquet": {"n_rows": 7, "n_bytes": 1}})
    after = make_ledger(table).committed()[part]["files"]
    assert after == before


def test_markers_backend_refused(spark, legacy_markers_table):
    with pytest.raises(ValueError, match="adopt_markers"):
        compact_partition(spark, legacy_markers_table, 0)


def test_sorted_compaction_sharpens_file_skipping(spark, table):
    """sort_by clustering (OPTIMIZE ZORDER's 1-D core): after a
    conv_id-clustered rewrite into 3 files, the files own disjoint
    conv_id ranges, so a point probe plans exactly one file of the
    partition — the salted-write layout it replaces left every file
    spanning the full range. Rows are identical before/after."""
    from curator_spark.checkpoint import snapshot_files, table_row_count
    part = 1
    before = read_committed(spark, table).filter(f"part = {part}") \
        .orderBy("conv_id", "turn_idx").toPandas()
    r = compact_partition(spark, table, part, target_files=3,
                          sort_by=["conv_id", "turn_idx"])
    assert r["compacted"] and r["files_after"] <= 3
    after = read_committed(spark, table).filter(f"part = {part}") \
        .orderBy("conv_id", "turn_idx").toPandas()
    assert before.equals(after)
    # disjoint per-file conv_id ranges in the recorded stats
    m = make_ledger(table).committed()[part]
    bounds = sorted((st["conv_id"]["min"], st["conv_id"]["max"])
                    for st in m["stats"].values())
    for (_, hi), (lo, _) in zip(bounds, bounds[1:]):
        assert hi <= lo
    # a point probe inside this partition keeps exactly one of its files
    cid = before["conv_id"].iloc[len(before) // 2]
    probed = [p for p in snapshot_files(table, where=("conv_id", "=", cid))
              if f"part={part}" in p]
    assert len(probed) == 1
    # metadata-only count agrees with the data (compaction swap included)
    assert table_row_count(table) == read_committed(spark, table).count()


def test_zorder_compaction_prunes_on_every_dimension(spark, table):
    """OPTIMIZE ... ZORDER BY proper (2-D Morton interleave): after a
    z-ordered rewrite on (ts, turn_idx), manifest-stats probes prune
    files on BOTH columns — the lexicographic sort this generalizes
    prunes only on its leading column. Row-identical, layout-only."""
    from curator_spark.checkpoint import snapshot_files
    part = 2
    before = read_committed(spark, table).filter(f"part = {part}") \
        .orderBy("conv_id", "turn_idx").toPandas()
    n_files = 6
    r = compact_partition(spark, table, part, target_files=n_files,
                          sort_by=["ts", "turn_idx"], zorder=True)
    assert r["compacted"]
    n_files = r["files_after"]
    assert n_files >= 4, "fixture too small to exercise tiling"
    after = read_committed(spark, table).filter(f"part = {part}") \
        .orderBy("conv_id", "turn_idx").toPandas()
    assert before.equals(after)

    def probed(where):
        return len([p for p in snapshot_files(table, where=where)
                    if f"part={part}" in p])

    # a range probe on EACH z-ordered column prunes real files
    ts_hi = before["ts"].quantile(0.9)
    ti_hi = int(before["turn_idx"].max() * 3 // 4)
    assert probed(("ts", ">=", ts_hi)) < n_files
    assert probed(("turn_idx", ">=", ti_hi)) < n_files
    # and the per-file stats tile BOTH dimensions: some file's range is
    # a proper subset of the global range in each column
    m = make_ledger(table).committed()[part]
    for col in ("turn_idx",):
        gmin = min(st[col]["min"] for st in m["stats"].values())
        gmax = max(st[col]["max"] for st in m["stats"].values())
        assert any(st[col]["min"] > gmin or st[col]["max"] < gmax
                   for st in m["stats"].values())


def test_zorder_guards(spark, table):
    with pytest.raises(ValueError, match="2\\+ sort_by"):
        compact_partition(spark, table, 0, target_files=2,
                          sort_by=["ts"], zorder=True)
    with pytest.raises(ValueError, match="linear order"):
        compact_partition(spark, table, 0, target_files=2,
                          sort_by=["conv_id", "ts"], zorder=True)


def test_optimize_table_selects_by_size_and_compacts(spark, tmp_path):
    """Whole-table OPTIMIZE: metadata-only selection (manifest n_bytes)
    picks exactly the partitions with accreted small files, each
    compacts in its own commit, rows are untouched, and a second pass
    is a no-op."""
    from curator_spark.checkpoint import (
        optimize_table, table_row_count)
    b1 = fixtures.generate_transcripts(900, seed=33, n_parts=4)
    p1 = str(tmp_path / "b1.parquet")
    fixtures.to_spark_parquet(b1, p1)
    out = str(tmp_path / "out")
    run_checkpointed(spark, p1, out)
    b2 = fixtures.generate_transcripts(500, seed=34, n_parts=4)
    p2 = str(tmp_path / "b2.parquet")
    fixtures.to_spark_parquet(b2, p2)
    append_new_conversations(spark, p2, out)

    led = make_ledger(out)
    all_parts = sorted(led.committed())
    multi = sorted(p for p, m in led.committed().items()
                   if len(m["files"]) > 1)
    assert multi
    n0 = table_row_count(out)

    # 1-byte smallness threshold: no live file is that small → nothing
    # qualifies, nothing is read, nothing commits
    v = led.latest_version()
    r0 = optimize_table(spark, out, target_files=1, small_file_bytes=1)
    assert r0["parts_compacted"] == [] and led.latest_version() == v
    assert sorted(r0["parts_skipped"]) == all_parts

    r = optimize_table(spark, out, target_files=1,
                       small_file_bytes=128 << 20)
    assert sorted(r["parts_compacted"]) == multi
    assert r["files_after"] == len(multi)       # one file per partition
    assert r["files_before"] > r["files_after"]
    assert r["n_rows"] > 0 and table_row_count(out) == n0
    for p, m in make_ledger(out).committed().items():
        assert len(m["files"]) == 1
    assert read_committed(spark, out).count() == n0

    # second pass: everything already at target → pure-metadata no-op
    v = make_ledger(out).latest_version()
    r2 = optimize_table(spark, out, target_files=1)
    assert r2["parts_compacted"] == []
    assert make_ledger(out).latest_version() == v

    # CLI wiring: --compact 1 --zorder-by runs the clustered rewrite
    from curator_spark import cli
    rc = cli.main(["--input", p1, "--output", out, "--local-cores", "4",
                   "--compact", "1",
                   "--zorder-by", "ts,turn_idx"])
    assert rc == 0
    assert read_committed(spark, out).count() == n0

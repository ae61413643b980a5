"""Time travel + manifest-stats data skipping on the commitlog ledger
(checkpoint.py): versioned snapshot reads (Delta's VERSION AS OF),
DESCRIBE HISTORY, and file skipping driven by per-file column min/max
recorded in commit manifests — scan planning from the log alone, no
data I/O. Reference analogue: the reference's durable
batch_objects.jsonl state history (base_batch_request_processor.py:
300-309) persists every lifecycle transition; the commitlog generalizes
that to a replayable, queryable table history.
"""

from __future__ import annotations

import os
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from curator_spark import fixtures
from curator_spark.checkpoint import (
    _file_may_match, compact_partition, file_column_stats, make_ledger,
    read_committed, run_checkpointed, snapshot_files, table_history,
    vacuum)
from curator_spark.incremental import append_new_conversations


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """A commitlog table with three eras: base run (seed 21), an
    appended batch (seed 22 — disjoint conv_id prefix), and a
    compaction of the busiest partition."""
    base = tmp_path_factory.mktemp("tt")
    b1 = fixtures.generate_transcripts(1500, seed=21, n_parts=4)
    p1 = str(base / "b1.parquet")
    fixtures.to_spark_parquet(b1, p1)
    out = str(base / "out")
    run_checkpointed(spark, p1, out)
    ledger = make_ledger(out)
    v_base = ledger.latest_version()

    b2 = fixtures.generate_transcripts(800, seed=22, n_parts=4)
    p2 = str(base / "b2.parquet")
    fixtures.to_spark_parquet(b2, p2)
    app = append_new_conversations(spark, p2, out)
    assert app["rows_appended"] > 0
    v_append = ledger.latest_version()

    # compact the partition with the most files (base + appended)
    counts = {p: len((m or {}).get("files") or {})
              for p, m in ledger.committed().items()}
    part = max(counts, key=lambda p: counts[p])
    res = compact_partition(spark, out, part)
    assert res["compacted"]
    return {"out": out, "b1": b1, "b2": b2, "v_base": v_base,
            "v_append": v_append, "part": part,
            "rows_appended": app["rows_appended"]}


def test_history_lists_every_commit(table):
    hist = table_history(table["out"])
    versions = [h["version"] for h in hist]
    assert versions == sorted(versions) and len(set(versions)) == len(versions)
    ops = [op for h in hist for op in h["operations"]]
    assert "add" in ops and "add_files" in ops and "compact" in ops
    # the compact commit names its partition
    compacts = [h for h in hist if "compact" in h["operations"]]
    assert compacts and table["part"] in compacts[-1]["parts"]


def test_snapshot_reads_reproduce_each_era(spark, table):
    out = table["out"]
    head = read_committed(spark, out)
    n_head = head.count()
    base = read_committed(spark, out, version=table["v_base"])
    assert base.count() == len(table["b1"])
    # the base snapshot contains exactly the base batch's conversations
    base_ids = {r.conv_id for r in base.select("conv_id").distinct().collect()}
    assert base_ids == set(table["b1"]["conv_id"].unique())
    # pre-compaction snapshot is row-identical to the head (compaction
    # changes files, never rows)
    assert read_committed(spark, out, version=table["v_append"]).count() \
        == n_head == len(table["b1"]) + table["rows_appended"]
    # version 0 predates every commit: an empty table
    assert read_committed(spark, out, version=0).count() == 0
    # a version beyond the log must raise, never silently serve the
    # head labeled as a pinned snapshot
    with pytest.raises(ValueError, match="does not exist"):
        read_committed(spark, out, version=10_000)


def test_timestamp_as_of(spark, table):
    """TIMESTAMP AS OF resolves a datetime to the latest commit at or
    before it and reads that snapshot."""
    from datetime import datetime, timezone
    out = table["out"]
    hist = table_history(out)
    # a timestamp exactly at the base run's last commit → the base era
    base_ts = datetime.fromisoformat(
        next(h["ts"] for h in hist if h["version"] == table["v_base"]))
    snap = read_committed(spark, out, as_of=base_ts)
    assert snap.count() == len(table["b1"])
    # far future → the head; far past → no table yet
    assert read_committed(
        spark, out,
        as_of=datetime(2199, 1, 1, tzinfo=timezone.utc)).count() \
        == read_committed(spark, out).count()
    with pytest.raises(ValueError, match="history starts later"):
        read_committed(spark, out,
                       as_of=datetime(1999, 1, 1, tzinfo=timezone.utc))
    with pytest.raises(ValueError, match="not both"):
        read_committed(spark, out, version=1, as_of=base_ts)


def test_time_travel_requires_commitlog(spark, legacy_markers_table):
    with pytest.raises(ValueError, match="adopt_markers"):
        snapshot_files(legacy_markers_table, version=1)
    with pytest.raises(ValueError, match="adopt_markers"):
        read_committed(spark, legacy_markers_table, version=1)


def test_manifest_stats_recorded(table):
    ledger = make_ledger(table["out"])
    marker = ledger.committed()[table["part"]]
    stats = marker.get("stats") or {}
    # every live file of the compacted partition has conv_id bounds
    assert set(stats) == set(marker["files"])
    for st in stats.values():
        assert st["conv_id"]["min"].startswith("conv-")
        assert st["conv_id"]["min"] <= st["conv_id"]["max"]
        assert isinstance(st["ts"]["min"], int)  # epoch micros


def test_file_skipping_prunes_and_stays_exact(spark, table):
    out = table["out"]
    all_files = snapshot_files(out)
    # seed-22 conv_ids all sort above this cut; every base-era file
    # (max conv_id < the cut) must be skipped
    cut = ("conv_id", ">=", "conv-0022-")
    probe_files = snapshot_files(out, where=cut)
    assert len(probe_files) < len(all_files)
    got = read_committed(spark, out, where=cut)
    want = read_committed(spark, out).filter("conv_id >= 'conv-0022-'")
    assert got.count() == want.count() > 0
    # equality probe on one appended conversation: exact rows back
    cid = sorted(table["b2"]["conv_id"].unique())[0]
    eq = read_committed(spark, out, where=("conv_id", "=", cid))
    assert eq.count() == int((table["b2"]["conv_id"] == cid).sum())
    assert len(snapshot_files(out, where=("conv_id", "=", cid))) \
        <= len(probe_files)


def test_ts_skipping_sound_with_datetime_literal(spark, table):
    out = table["out"]
    t0 = datetime(2024, 1, 1)
    got = read_committed(spark, out, where=("ts", ">=", t0)).count()
    want = read_committed(spark, out).filter(
        "ts >= timestamp'2024-01-01 00:00:00'").count()
    assert got == want


def test_vacuum_bounds_time_travel(spark, table):
    out = table["out"]
    removed = vacuum(out, min_age_s=0)
    assert removed > 0  # the compacted partition's pre-compact files
    # head still reads fine; the pre-compaction snapshot now names its
    # reclaimed files instead of returning a partial table
    assert read_committed(spark, out).count() > 0
    with pytest.raises(FileNotFoundError, match="vacuum"):
        read_committed(spark, out, version=table["v_append"])


def test_bucket_transform_pruning(spark, tmp_path):
    """A recorded bucket spec turns conv_id equality probes into
    partition pruning: only the hashed-to partition's files survive
    log-side planning (Iceberg's bucket[N] transform pruning), and the
    rows come back exact."""
    p = str(tmp_path / "in.parquet")
    pdf = fixtures.write_transcripts_parquet(p, 1200, seed=31, n_parts=4)
    out = str(tmp_path / "out")
    run_checkpointed(spark, p, out,
                     bucket={"col": "conv_id", "n_parts": 4,
                             "fn": "md5full"})
    cid = sorted(pdf["conv_id"].unique())[3]
    want_part = fixtures.part_of(cid, 4)
    files = snapshot_files(out, where=("conv_id", "=", cid))
    assert files and all(f"part={want_part}" in f for f in files)
    assert len(files) < len(snapshot_files(out))
    got = read_committed(spark, out, where=("conv_id", "=", cid))
    assert got.count() == int((pdf["conv_id"] == cid).sum()) > 0
    # explicit part predicates prune too, on any table
    only2 = snapshot_files(out, where=("part", "=", 2))
    assert only2 and all("part=2" in f for f in only2)
    with pytest.raises(ValueError, match="bucket spec"):
        run_checkpointed(spark, p, str(tmp_path / "bad"),
                         bucket={"col": "conv_id", "fn": "nope"})
    # a spec whose hash function does NOT describe the data is refused
    # at registration (it would silently lose rows on every probe) —
    # this input was bucketed with md5full, not md5hex8
    with pytest.raises(ValueError, match="does not describe"):
        run_checkpointed(spark, p, str(tmp_path / "bad2"),
                         bucket={"col": "conv_id", "n_parts": 4,
                                 "fn": "md5hex8"})


def test_tz_aware_probe_prunes_correctly(tmp_path):
    """A tz-aware non-UTC datetime literal must convert to TRUE UTC
    micros: +05:00 07:00 is 02:00Z, inside a file spanning
    [00:00Z, 03:00Z] — pruning that file would silently drop rows."""
    from datetime import datetime, timedelta, timezone
    fp = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({
        "ts": pa.array([datetime(2024, 1, 1, 0), datetime(2024, 1, 1, 3)],
                       pa.timestamp("us")),
    }), fp)
    st = file_column_stats(fp, columns=("ts",))
    probe = datetime(2024, 1, 1, 7, 0,
                     tzinfo=timezone(timedelta(hours=5)))  # == 02:00Z
    assert _file_may_match(st, "ts", "=", probe)
    late = datetime(2024, 1, 1, 9, 0,
                    tzinfo=timezone(timedelta(hours=5)))   # == 04:00Z
    assert not _file_may_match(st, "ts", "=", late)


def test_file_stats_null_and_float_semantics(tmp_path):
    """Unit-level soundness: all-null columns prune equality probes,
    NaN-bearing float stats never prune, foreign-kind literals never
    prune, and > / >= on float stats are refused (Spark orders NaN
    above every double)."""
    fp = str(tmp_path / "s.parquet")
    pq.write_table(pa.table({
        "conv_id": pa.array(["a", "b"], pa.string()),
        "lang": pa.array([None, None], pa.string()),
        "ppl": pa.array([1.5, 2.5], pa.float64()),
    }), fp)
    st = file_column_stats(fp, columns=("conv_id", "lang", "ppl"))
    assert st["conv_id"] == {"min": "a", "max": "b", "nulls": 0}
    assert st["lang"]["min"] is None and st["lang"]["nulls"] == 2
    # all-null column: no comparison can match → prune
    assert not _file_may_match(st, "lang", "=", "en")
    # string bounds prune exactly
    assert _file_may_match(st, "conv_id", "=", "a")
    assert not _file_may_match(st, "conv_id", "=", "z")
    # float stats: < / <= / = prune, > / >= never do
    assert not _file_may_match(st, "ppl", "<", 1.0)
    assert not _file_may_match(st, "ppl", "=", 9.0)
    assert _file_may_match(st, "ppl", ">", 99.0)
    assert _file_may_match(st, "ppl", ">=", 99.0)
    # NaN literal: every Python comparison is False (would prune ALL
    # files) while Spark's NaN semantics can match rows — never prune
    assert _file_may_match(st, "ppl", "=", float("nan"))
    assert _file_may_match(st, "ppl", "<", float("nan"))
    assert _file_may_match(st, "ppl", "<=", float("nan"))
    # kind mismatch: keep the file
    assert _file_may_match(st, "conv_id", "=", 7)
    # missing stats: keep the file
    assert _file_may_match(st, "nope", "=", 1)
    assert _file_may_match(None, "conv_id", "=", "a")


def test_metadata_only_minmax_matches_scan(spark, table):
    """table_column_minmax answers MIN/MAX from manifests alone (the
    aggregate-pushdown cousin of the metadata-only count): exact vs a
    real scan for stats-tracked columns, honest `complete` flag, and
    time-travel-consistent."""
    from curator_spark.checkpoint import table_column_minmax
    out = table["out"]
    df = read_committed(spark, out)
    for col in ("conv_id", "turn_idx", "n_tokens"):
        meta = table_column_minmax(out, col)
        assert meta["complete"], f"{col}: expected full stats coverage"
        row = df.selectExpr(f"min({col})", f"max({col})").first()
        assert meta["min"] == row[0] and meta["max"] == row[1], col
    # a non-allowlisted column has zero coverage — bounds are None and
    # the flag says so, never a silently-wrong answer
    meta = table_column_minmax(out, "scrubbed_text")
    assert not meta["complete"] and meta["n_files_with_stats"] == 0
    assert meta["min"] is None and meta["max"] is None
    # time travel: the base era's max conv_id <= the head's
    base = table_column_minmax(out, "conv_id", version=table["v_base"])
    head = table_column_minmax(out, "conv_id")
    assert base["complete"] and base["max"] <= head["max"]

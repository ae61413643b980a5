"""Predicate DML (curator_spark.dml): UPDATE ... SET ... WHERE and
DELETE ... WHERE over commitlog tables — stats-pruned, probe-exact
rewrites, one atomic version, SQL NULL-predicate semantics, Delta's
conflict rule on concurrent OPTIMIZE."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import copy_table, part_file_counts
from curator_spark.checkpoint import (
    CommitLogLedger, compact_partition, make_ledger, read_committed,
    table_row_count, vacuum)
from curator_spark.datasource import CuratorTableDataSource
from curator_spark.dml import ConcurrentDMLError, delete_where, update_where

N0 = 600


def _toy(spark, n=N0):
    return spark.range(n).select(
        F.format_string("conv-%06d", F.col("id")).alias("conv_id"),
        (F.col("id") % 5).cast("int").alias("turn_idx"),
        F.when(F.col("id") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.lit("user")).alias("role"),
        (F.col("id") % 97).cast("double").alias("ppl"))


@pytest.fixture(scope="module")
def built_table(spark, tmp_path_factory):
    spark.dataSource.register(CuratorTableDataSource)
    out = str(tmp_path_factory.mktemp("dml") / "t")
    # two appends → two files per bucket, each covering a disjoint
    # key range (so stats pruning has something to skip)
    for lo in (0, N0 // 2):
        (_toy(spark).filter(
            (F.col("conv_id") >= f"conv-{lo:06d}")
            & (F.col("conv_id") < f"conv-{lo + N0 // 2:06d}"))
         .coalesce(1).write.format("curator_table")
         .option("bucketBy", "conv_id").option("buckets", "4")
         .mode("append").save(out))
    return out


@pytest.fixture()
def table(spark, built_table, tmp_path):
    """A private copy of the module's table for each test."""
    spark.dataSource.register(CuratorTableDataSource)
    return copy_table(built_table, tmp_path / "t")


def test_update_where_sets_only_matching_rows(spark, table):
    led = make_ledger(table)
    v0 = led.latest_version()
    s = update_where(spark, table,
                     {"ppl": "ppl + 1000", "role": "'flagged'"},
                     where="ppl > 90")
    n_match = s["rows_updated"]
    assert n_match > 0
    assert led.latest_version() == v0 + 1          # ONE atomic commit
    after = read_committed(spark, table)
    assert after.count() == N0                     # UPDATE never deletes
    assert after.filter(F.col("ppl") > 1000).count() == n_match
    assert after.filter(F.col("role") == "flagged").count() == n_match
    # non-matching rows byte-identical (multiset equality)
    survivors = after.filter(F.col("ppl") <= 90).drop("part")
    orig = _toy(spark).filter(F.col("ppl") <= 90)
    assert survivors.exceptAll(orig).count() == 0
    assert orig.exceptAll(survivors).count() == 0
    # time travel shows the pre-update rows
    snap = read_committed(spark, table, version=v0)
    assert snap.filter(F.col("ppl") > 1000).count() == 0


def test_update_where_triple_prunes_files(spark, table):
    # equality probe on a zero-padded key range hits one append's file
    s = update_where(spark, table, {"ppl": "0.0"},
                     where=("conv_id", "=", "conv-000010"))
    assert s["rows_updated"] == 1
    assert s["files_untouched"] > 0      # stats pruning did real work
    assert s["files_rewritten"] == 1


def test_update_probe_reads_only_the_keys_bucket(spark, table,
                                                 monkeypatch):
    """DML plans through the reads' planner, bucket transform included:
    an equality probe on the bucketed key hands its probe only files of
    the key's bucket (stats alone keep one file per bucket here)."""
    import curator_spark.dml as dml
    from curator_spark.checkpoint import BUCKET_FNS
    cid = "conv-000010"
    seen = []
    orig = dml._scan_committed

    def recording(spark_, out_dir, meta, files, *a, **k):
        seen.append(dict(files))
        return orig(spark_, out_dir, meta, files, *a, **k)

    monkeypatch.setattr(dml, "_scan_committed", recording)
    s = update_where(spark, table, {"ppl": "0.0"},
                     where=("conv_id", "=", cid))
    assert s["rows_updated"] == 1 and s["files_rewritten"] == 1
    bucket = make_ledger(table).table_meta()["bucket"]
    want = BUCKET_FNS[bucket["fn"]](cid, bucket["n_parts"])
    assert [sorted(f) for f in seen] == [[want]]
    assert len(seen[0][want]) == 1


def test_update_null_predicate_rows_untouched(spark, table):
    # role IS NULL for id % 7 == 0 → predicate over role is NULL there
    s = update_where(spark, table, {"turn_idx": "99"},
                     where="role = 'user'")
    after = read_committed(spark, table)
    nulls = after.filter(F.col("role").isNull())
    assert nulls.filter(F.col("turn_idx") == 99).count() == 0
    assert s["rows_updated"] == after.filter(
        F.col("turn_idx") == 99).count()


def test_update_unknown_column_refused(spark, table):
    with pytest.raises(ValueError, match="unknown columns"):
        update_where(spark, table, {"nope": "1"}, where="ppl > 0")


def test_update_empty_predicate_refused(spark, table):
    with pytest.raises(ValueError, match="explicit WHERE"):
        update_where(spark, table, {"ppl": "0"}, where=[])


def test_delete_where_removes_matches_keeps_nulls(spark, table):
    n_null = read_committed(spark, table) \
        .filter(F.col("role").isNull()).count()
    s = delete_where(spark, table, where="role = 'user' AND ppl < 10")
    assert s["rows_deleted"] > 0
    after = read_committed(spark, table)
    assert after.count() == N0 - s["rows_deleted"]
    assert after.filter((F.col("role") == "user")
                        & (F.col("ppl") < 10)).count() == 0
    # NULL-role rows (predicate NULL) all survived
    assert after.filter(F.col("role").isNull()).count() == n_null
    assert table_row_count(table) == after.count()


def test_delete_where_noop_commits_nothing(spark, table):
    led = make_ledger(table)
    v = led.latest_version()
    s = delete_where(spark, table, where="ppl < -1")
    assert s["rows_deleted"] == 0 and s["version"] is None
    assert led.latest_version() == v


def test_cli_dml_verbs(spark, table, capsys):
    import json

    from curator_spark import cli
    rc = cli.main(["--output", table, "--update-set",
                   "ppl=ppl*2;role='boosted'", "--update-where",
                   "ppl > 95", "--local-cores", "4"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows_updated"] > 0
    boosted = read_committed(spark, table) \
        .filter(F.col("role") == "boosted")
    assert boosted.count() == out["rows_updated"]
    rc = cli.main(["--output", table, "--delete-where",
                   "role = 'boosted'", "--local-cores", "4"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows_deleted"] == boosted.count()
    assert read_committed(spark, table) \
        .filter(F.col("role") == "boosted").count() == 0


def test_dml_conflict_with_concurrent_compaction(spark, table,
                                                 monkeypatch):
    orig = CommitLogLedger.merge_commit
    fired = {}

    def hijack(self, actions, **kw):
        if not fired:
            fired["x"] = True
            compact_partition(spark, table, actions[0]["part"])
        return orig(self, actions, **kw)

    monkeypatch.setattr(CommitLogLedger, "merge_commit", hijack)
    with pytest.raises(ConcurrentDMLError, match="retry"):
        delete_where(spark, table, where="ppl > 90")
    monkeypatch.setattr(CommitLogLedger, "merge_commit", orig)
    s = delete_where(spark, table, where="ppl > 90")   # retry converges
    assert s["rows_deleted"] > 0
    after = read_committed(spark, table)
    assert after.filter(F.col("ppl") > 90).count() == 0
    assert vacuum(table, min_age_s=0) > 0   # conflict debris reclaimed

def test_dml_stale_part_leaves_table_unchanged(spark, table, monkeypatch):
    """An UPDATE spanning several parts is all or nothing under a
    concurrent compaction of one of them: the stale swap abandons the
    whole version, so no other part's rewrite publishes either."""
    def rows():
        df = read_committed(spark, table)
        cols = sorted(df.columns)  # conv_id first: unique, None-free
        return sorted(tuple(r) for r in df.select(*cols).collect())

    led = make_ledger(table)
    v0, before = led.latest_version(), rows()
    orig = CommitLogLedger.merge_commit
    fired = {}

    def hijack(self, actions, **kw):
        if not fired:
            fired["x"] = True
            parts = sorted({a["part"] for a in actions
                            if a["type"] == "delete"})
            assert len(parts) >= 2
            assert part_file_counts(table)[parts[-1]] >= 2
            compact_partition(spark, table, parts[-1])
        return orig(self, actions, **kw)

    monkeypatch.setattr(CommitLogLedger, "merge_commit", hijack)
    with pytest.raises(ConcurrentDMLError, match="retry"):
        update_where(spark, table, {"ppl": "ppl + 1000"}, where="ppl > 90")
    monkeypatch.setattr(CommitLogLedger, "merge_commit", orig)
    assert led.latest_version() == v0 + 1  # the compaction alone
    assert rows() == before


def test_insert_overwrite_where_replaces_region_atomically(spark, table):
    from curator_spark.dml import insert_overwrite_where
    led = make_ledger(table)
    v0 = led.latest_version()
    before = read_committed(spark, table)
    region = before.filter("ppl > 90").count()
    assert region > 0
    # backfill: the region's rows reprocessed (same keys, new values)
    new = (_toy(spark).filter("ppl > 90")
           .withColumn("role", F.lit("backfilled")))
    s = insert_overwrite_where(spark, table, new, where="ppl > 90")
    assert s["rows_deleted"] == region
    assert s["rows_inserted"] == region
    assert led.latest_version() == v0 + 1          # ONE atomic commit
    after = read_committed(spark, table)
    assert after.count() == N0                     # region swapped 1:1
    assert after.filter("role = 'backfilled'").count() == region
    # rows outside the region are byte-identical survivors
    outside = after.filter("ppl <= 90").drop("part")
    orig = _toy(spark).filter("ppl <= 90")
    assert outside.exceptAll(orig).count() == 0
    assert orig.exceptAll(outside).count() == 0


def test_insert_overwrite_where_refuses_out_of_region_rows(spark, table):
    from curator_spark.dml import insert_overwrite_where
    led = make_ledger(table)
    v0 = led.latest_version()
    bad = _toy(spark).limit(5)                     # ppl values <= 90 too
    with pytest.raises(ValueError, match="NOT matching the predicate"):
        insert_overwrite_where(spark, table, bad, where="ppl > 9000")
    assert led.latest_version() == v0              # nothing committed
    assert read_committed(spark, table).count() == N0


def test_insert_overwrite_empty_region_is_a_plain_insert(spark, table):
    from curator_spark.dml import insert_overwrite_where
    new = (_toy(spark, n=7).withColumn("ppl", F.lit(5000.0))
           .withColumn("conv_id", F.concat(F.lit("new-"), "conv_id")))
    s = insert_overwrite_where(spark, table, new, where="ppl > 4000")
    assert s["rows_deleted"] == 0 and s["rows_inserted"] == 7
    assert s["version"] is not None                # insert leg committed
    assert read_committed(spark, table).count() == N0 + 7


def test_insert_overwrite_where_refuses_schema_drift(spark, table):
    from curator_spark.dml import insert_overwrite_where
    new = _toy(spark).filter("ppl > 90").withColumn("extra", F.lit(1))
    with pytest.raises(ValueError, match="never evolves the schema"):
        insert_overwrite_where(spark, table, new, where="ppl > 90")

"""ALTER TABLE column DDL via column mapping (curator_spark.alter):
metadata-only RENAME/DROP/ADD over commitlog tables — Delta's
column-mapping name mode. Physical (in-file) names are immutable;
logical names live in table_meta; the first ALTER ratchets the
`column-mapping` reader+writer feature in the same commit.

Invariants proven here:
* rename is one commit, zero data I/O, and every read surface (snapshot
  read, datasource scan, feed, row-level CDF) shows the new name over
  old AND new files;
* stats skipping still prunes on a renamed column (footer stats are
  keyed physically);
* time travel / RESTORE show the schema AS OF the version;
* drop + re-add NEVER resurrects the dropped column's values;
* DML, MERGE, compaction, and CHECK constraints compose with mapping.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import copy_table
from curator_spark.alter import add_column, drop_column, rename_column
from curator_spark.checkpoint import (
    compact_partition, make_ledger, read_changes, read_committed,
    restore_table, snapshot_files, table_column_minmax, table_protocol)
from curator_spark.datasource import CuratorTableDataSource
from curator_spark.dml import delete_where, update_where
from curator_spark.merge import merge_into

N0 = 400


def _toy(spark, n=N0, lo=0):
    return spark.range(lo, lo + n).select(
        F.format_string("conv-%06d", F.col("id")).alias("conv_id"),
        (F.col("id") % 5).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        (F.col("id") % 97).cast("double").alias("ppl"))


@pytest.fixture(scope="module")
def built_table(spark, tmp_path_factory):
    spark.dataSource.register(CuratorTableDataSource)
    out = str(tmp_path_factory.mktemp("column_mapping") / "t")
    (_toy(spark).coalesce(2).write.format("curator_table")
     .option("bucketBy", "conv_id").option("buckets", "4")
     .mode("append").save(out))
    return out


@pytest.fixture()
def table(spark, built_table, tmp_path):
    """A private copy of the module's table for each test."""
    spark.dataSource.register(CuratorTableDataSource)
    return copy_table(built_table, tmp_path / "t")


def _append(spark, out, lo, n=N0, rename=None):
    df = _toy(spark, n=n, lo=lo)
    if rename:  # writers speak the CURRENT logical names
        df = df.withColumnRenamed(*rename)
    (df.coalesce(1).write.format("curator_table")
     .mode("append").save(out))


def test_rename_is_metadata_only(spark, table):
    led = make_ledger(table)
    v0 = led.latest_version()
    files_before = sorted(snapshot_files(table))
    rename_column(table, "ppl", "perplexity")
    assert led.latest_version() == v0 + 1           # ONE commit
    assert sorted(snapshot_files(table)) == files_before  # zero data I/O
    df = read_committed(spark, table)
    assert "perplexity" in df.columns and "ppl" not in df.columns
    # values intact under the new name
    assert df.filter(F.col("perplexity") == 42.0).count() == \
        _toy(spark).filter(F.col("ppl") == 42.0).count()
    # the activating ALTER ratchets reader+writer features atomically
    proto = table_protocol(table)
    assert "column-mapping" in proto["reader_features"]
    assert "column-mapping" in proto["writer_features"]


def test_rename_mixes_old_and_new_era_files(spark, table):
    rename_column(table, "ppl", "perplexity")
    _append(spark, table, lo=N0,                    # post-rename files
            rename=("ppl", "perplexity"))
    df = read_committed(spark, table)
    assert df.count() == 2 * N0
    # both eras answer under the logical name with correct values
    want = 2 * _toy(spark).filter(F.col("ppl") > 90).count()
    assert df.filter(F.col("perplexity") > 90).count() == want
    # stats skipping prunes on the RENAMED column (stats keyed
    # physically; `ppl` is in the stats allowlist). The probe uses `<`:
    # `>`/`>=` on float stats never prune by design (NaN soundness)
    all_files = len(snapshot_files(table))
    hit = len(snapshot_files(table, where=("perplexity", "<", -1.0)))
    assert hit < all_files
    # metadata-only minmax answers under the logical name too
    mm = table_column_minmax(table, "perplexity")
    assert mm["max"] == 96.0 and mm["min"] == 0.0


def test_time_travel_and_restore_show_schema_as_of(spark, table):
    led = make_ledger(table)
    v0 = led.latest_version()
    rename_column(table, "ppl", "perplexity")
    old = read_committed(spark, table, version=v0)
    assert "ppl" in old.columns and "perplexity" not in old.columns
    assert old.count() == N0
    restore_table(table, version=v0)
    back = read_committed(spark, table)
    assert "ppl" in back.columns                    # schema rolled back
    # ...but the protocol requirement survives the rollback
    assert "column-mapping" in table_protocol(table)["reader_features"]


def test_drop_then_readd_never_resurrects(spark, table):
    drop_column(table, "ppl")
    assert "ppl" not in read_committed(spark, table).columns
    add_column(table, "ppl", "double")
    df = read_committed(spark, table)
    # the re-added column reads NULL everywhere: old files still HOLD
    # the retired physical bytes, but the fresh physical name never
    # points at them
    assert df.filter(F.col("ppl").isNotNull()).count() == 0
    _append(spark, table, lo=N0)                    # new era carries ppl
    df = read_committed(spark, table)
    assert df.filter(F.col("ppl").isNotNull()).count() == N0


def test_add_column_reads_null_on_old_files(spark, table):
    add_column(table, "quality", "double")
    df = read_committed(spark, table)
    assert df.filter(F.col("quality").isNull()).count() == N0


def test_alter_refusals(spark, table):
    from curator_spark.constraints import add_constraint
    with pytest.raises(ValueError, match="already exists"):
        rename_column(table, "ppl", "role")
    with pytest.raises(ValueError, match="no column"):
        rename_column(table, "nope", "x")
    with pytest.raises(ValueError, match="bucket"):
        rename_column(table, "conv_id", "cid")   # bucket-spec column
    with pytest.raises(ValueError, match="bucket"):
        drop_column(table, "conv_id")
    add_constraint(spark, table, "ppl_range", "ppl >= 0")
    with pytest.raises(ValueError, match="constraint"):
        rename_column(table, "ppl", "perplexity")
    with pytest.raises(ValueError, match="constraint"):
        drop_column(table, "ppl")
    with pytest.raises(ValueError, match="already exists"):
        add_column(table, "role", "string")


def test_dml_and_compaction_on_renamed_table(spark, table):
    rename_column(table, "ppl", "perplexity")
    s = update_where(spark, table, {"perplexity": "perplexity + 1000"},
                     where="perplexity > 90")
    assert s["rows_updated"] == _toy(spark).filter("ppl > 90").count()
    df = read_committed(spark, table)
    assert df.filter(F.col("perplexity") > 1000).count() == \
        s["rows_updated"]
    d = delete_where(spark, table, where="perplexity > 1000")
    assert d["rows_deleted"] == s["rows_updated"]
    assert read_committed(spark, table).count() == N0 - d["rows_deleted"]
    # compaction with a sort on the LOGICAL name; reads stay identical
    before = read_committed(spark, table).orderBy("conv_id").collect()
    for part in {r.part for r in read_committed(spark, table)
                 .select("part").distinct().collect()}:
        compact_partition(spark, table, int(part),
                          sort_by=["perplexity"])
    after = read_committed(spark, table).orderBy("conv_id").collect()
    assert [r.asDict() for r in before] == [r.asDict() for r in after]


def test_merge_into_renamed_table(spark, table):
    rename_column(table, "ppl", "perplexity")
    src = _toy(spark, n=20, lo=N0 - 10) \
        .withColumnRenamed("ppl", "perplexity") \
        .withColumn("perplexity", F.lit(-1.0))
    s = merge_into(spark, table, src, key="conv_id")
    assert s["rows_updated"] == 10 and s["rows_inserted"] == 10
    df = read_committed(spark, table)
    assert df.count() == N0 + 10
    assert df.filter(F.col("perplexity") == -1.0).count() == 20


def test_merge_schema_evolution_under_mapping(spark, table):
    rename_column(table, "ppl", "perplexity")   # activates mapping
    src = (_toy(spark, n=5, lo=N0)
           .withColumnRenamed("ppl", "perplexity")
           .withColumn("lang", F.lit("en")))
    s = merge_into(spark, table, src, key="conv_id", evolve_schema=True)
    assert s["rows_inserted"] == 5
    df = read_committed(spark, table)
    assert "lang" in df.columns
    assert df.filter(F.col("lang") == "en").count() == 5
    assert df.filter(F.col("lang").isNull()).count() == N0


def test_constraints_enforced_through_mapping(spark, table):
    from curator_spark.constraints import (
        ConstraintViolation, add_constraint)
    rename_column(table, "ppl", "perplexity")
    add_constraint(spark, table, "ppl_range", "perplexity >= 0")
    with pytest.raises(ConstraintViolation):
        update_where(spark, table, {"perplexity": "-5.0"},
                     where="perplexity > 90")
    # the violating rewrite aborted before its commit: table unchanged
    assert read_committed(spark, table) \
        .filter(F.col("perplexity") < 0).count() == 0
    # datasource sink (sessionless DuckDB lane included) enforces too
    bad = _toy(spark, n=3, lo=9_000_000) \
        .withColumnRenamed("ppl", "perplexity") \
        .withColumn("perplexity", F.lit(-1.0))
    with pytest.raises(Exception, match="ppl_range"):
        (bad.write.format("curator_table").mode("append")
         .save(table))


def test_datasource_scan_and_feed_after_rename(spark, table):
    led = make_ledger(table)
    v0 = led.latest_version()
    rename_column(table, "ppl", "perplexity")
    _append(spark, table, lo=N0, rename=("ppl", "perplexity"))
    # Python data source scan surfaces logical names (both eras)
    df = (spark.read.format("curator_table").load(table)
          .filter(F.col("perplexity") > 90))
    assert df.count() == 2 * _toy(spark).filter("ppl > 90").count()
    # incremental feed delivers the post-rename insert window under
    # the current logical names
    feed = read_changes(spark, table, v0)
    assert "perplexity" in feed.columns
    assert feed.count() == N0


def test_delete_conversations_on_renamed_key_table(spark, table):
    # rename a NON-key column; the keyed delete still prunes + rewrites
    rename_column(table, "ppl", "perplexity")
    from curator_spark.checkpoint import delete_conversations
    s = delete_conversations(spark, table, ["conv-000001", "conv-000002"])
    assert s["rows_deleted"] == 2
    df = read_committed(spark, table)
    assert df.count() == N0 - 2
    assert df.filter(F.col("conv_id") == "conv-000001").count() == 0


def test_cli_column_ddl(spark, table):
    from curator_spark.cli import main
    assert main(["--output", table,
                 "--rename-column", "ppl=perplexity"]) == 0
    assert main(["--output", table, "--add-column", "quality:double"]) == 0
    assert main(["--output", table, "--drop-column", "quality"]) == 0
    df = read_committed(spark, table)
    assert "perplexity" in df.columns and "quality" not in df.columns


def test_insert_overwrite_where_on_renamed_table(spark, table):
    from curator_spark.dml import insert_overwrite_where
    rename_column(table, "ppl", "perplexity")
    new = (_toy(spark).filter("ppl > 90")
           .withColumnRenamed("ppl", "perplexity")
           .withColumn("role", F.lit("backfilled")))
    s = insert_overwrite_where(spark, table, new,
                               where="perplexity > 90")
    assert s["rows_deleted"] == s["rows_inserted"] > 0
    after = read_committed(spark, table)
    assert after.count() == N0
    assert after.filter("role = 'backfilled'").count() == \
        s["rows_inserted"]


def test_mapped_read_keeps_pushdown_and_pruning(spark, table):
    """The logical-alias projection over a mapped scan must NOT break
    Catalyst's pushdown: a filter + narrow select on the renamed column
    still reaches the parquet scan as a pushed filter on the PHYSICAL
    name with a pruned ReadSchema — the projection collapses into the
    scan (the 100 TB guarantee of the read rule, plan-asserted)."""
    rename_column(table, "ppl", "perplexity")
    df = (read_committed(spark, table)
          .filter(F.col("perplexity") > 50)
          .select("conv_id", "perplexity"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters")[1][:200]
    assert "ppl" in pushed            # pushed on the PHYSICAL name
    read = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "ppl" in read and "conv_id" in read
    assert "role" not in read and "turn_idx" not in read  # pruned


def test_stale_writer_commit_survives_concurrent_rename(spark, table):
    """The concurrency claim behind metadata-only RENAME, proven at
    the exact race window: a writer reads the table meta (identity
    mapping), stages a file under the physical names of that moment,
    and a RENAME commits BEFORE the writer's commit. Because physical
    names are immutable, the stale writer's file is still exactly
    right — its commit lands and every row reads correctly under the
    new logical name. (Delta's column-mapping gives writers the same
    immunity; a rewrite-based rename would have invalidated the file.)"""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    led = make_ledger(table)
    # the writer staged this BEFORE the rename: physical name `ppl`
    pdir = os.path.join(table, "data", "part=0")
    os.makedirs(pdir, exist_ok=True)
    fn = f"ds-stale-{uuid.uuid4().hex[:8]}-0.parquet"
    fp = os.path.join(pdir, fn)
    pq.write_table(pa.table({
        "conv_id": [f"stale-{i:04d}" for i in range(10)],
        "turn_idx": pa.array([0] * 10, type=pa.int32()),
        "role": ["user"] * 10,
        "ppl": [7.0] * 10}), fp)

    rename_column(table, "ppl", "perplexity")   # lands FIRST

    led.append_part(0, {fn: {"n_rows": 10,
                             "n_bytes": os.path.getsize(fp)}}, 10,
                    run_id="stale-writer")      # stale commit wins too
    df = read_committed(spark, table)
    assert df.count() == N0 + 10
    stale = df.filter(F.col("conv_id").startswith("stale-"))
    assert stale.count() == 10
    # the stale file's values surface under the NEW logical name
    assert stale.filter(F.col("perplexity") == 7.0).count() == 10

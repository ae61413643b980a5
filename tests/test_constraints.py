"""Table CHECK constraints (curator_spark.constraints): invariants in
the commit log, validated against existing rows at ADD time, enforced
at every write verb BEFORE its commit publishes, feature-gated so
non-enforcing builds refuse to write — SQL CHECK semantics (NULL
passes, only FALSE fails)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import copy_table
from curator_spark.checkpoint import (
    make_ledger, read_committed, table_protocol, table_row_count)
from curator_spark.constraints import (
    ConstraintViolation, add_constraint, drop_constraint,
    table_constraints)
from curator_spark.datasource import CuratorTableDataSource
from curator_spark.dml import update_where
from curator_spark.merge import merge_into

N0 = 300


def _toy(spark, n=N0, lo=0, ppl=None):
    return spark.range(lo, lo + n).select(
        F.format_string("conv-%06d", F.col("id")).alias("conv_id"),
        F.lit("user").alias("role"),
        (F.lit(float(ppl)) if ppl is not None
         else (F.col("id") % 97).cast("double")).alias("ppl"))


@pytest.fixture(scope="module")
def built_table(spark, tmp_path_factory):
    spark.dataSource.register(CuratorTableDataSource)
    out = str(tmp_path_factory.mktemp("constraints") / "t")
    (_toy(spark).write.format("curator_table")
     .option("bucketBy", "conv_id").option("buckets", "4")
     .mode("append").save(out))
    return out


@pytest.fixture()
def table(spark, built_table, tmp_path):
    """A private copy of the module's table for each test."""
    spark.dataSource.register(CuratorTableDataSource)
    return copy_table(built_table, tmp_path / "t")


def test_add_constraint_ratchets_feature_and_registers(spark, table):
    add_constraint(spark, table, "ppl_nonneg", "ppl >= 0")
    assert table_constraints(table) == {"ppl_nonneg": "ppl >= 0"}
    assert "check-constraints" in set(
        table_protocol(table).get("writer_features") or [])
    with pytest.raises(ValueError, match="already exists"):
        add_constraint(spark, table, "ppl_nonneg", "ppl >= 1")


def test_add_constraint_refused_when_existing_rows_violate(spark,
                                                           table):
    v = make_ledger(table).latest_version()
    with pytest.raises(ConstraintViolation, match="existing rows"):
        add_constraint(spark, table, "ppl_high", "ppl > 50")
    assert table_constraints(table) == {}
    assert make_ledger(table).latest_version() == v


def test_add_constraint_unresolvable_column_fails_fast(spark, table):
    with pytest.raises(Exception, match="nope|UNRESOLVED"):
        add_constraint(spark, table, "bad", "nope > 0")
    assert table_constraints(table) == {}


def test_write_violating_batch_aborts_cleanly(spark, table):
    add_constraint(spark, table, "ppl_nonneg", "ppl >= 0")
    n = table_row_count(table)
    with pytest.raises(Exception, match="ppl_nonneg"):
        (_toy(spark, 5, lo=10_000, ppl=-1.0)
         .write.format("curator_table").mode("append").save(table))
    assert table_row_count(table) == n
    assert read_committed(spark, table) \
        .filter(F.col("ppl") < 0).count() == 0
    from curator_spark.checkpoint import vacuum
    assert vacuum(table, min_age_s=0) == 0   # staged files were unlinked


def test_write_valid_batch_still_succeeds(spark, table):
    add_constraint(spark, table, "ppl_nonneg", "ppl >= 0")
    (_toy(spark, 5, lo=10_000).write.format("curator_table")
     .mode("append").save(table))
    assert table_row_count(table) == N0 + 5


def test_merge_enforces_constraints(spark, table):
    add_constraint(spark, table, "ppl_cap", "ppl < 10000")
    led = make_ledger(table)
    v = led.latest_version()
    bad = _toy(spark, 3, ppl=99_999.0)        # matched updates violate
    with pytest.raises(ConstraintViolation, match="ppl_cap"):
        merge_into(spark, table, bad, when_not_matched=None)
    assert led.latest_version() == v
    assert read_committed(spark, table) \
        .filter(F.col("ppl") >= 10000).count() == 0
    ok = _toy(spark, 3, ppl=123.0)
    s = merge_into(spark, table, ok, when_not_matched=None)
    assert s["rows_updated"] == 3


def test_update_where_enforces_constraints(spark, table):
    add_constraint(spark, table, "ppl_nonneg", "ppl >= 0")
    led = make_ledger(table)
    v = led.latest_version()
    with pytest.raises(ConstraintViolation, match="ppl_nonneg"):
        update_where(spark, table, {"ppl": "-5.0"}, where="ppl > 90")
    assert led.latest_version() == v
    assert read_committed(spark, table) \
        .filter(F.col("ppl") < 0).count() == 0


def test_null_passes_check_semantics(spark, table):
    add_constraint(spark, table, "ppl_nonneg", "ppl >= 0")
    nulls = _toy(spark, 4, lo=20_000).withColumn(
        "ppl", F.lit(None).cast("double"))
    (nulls.write.format("curator_table").mode("append").save(table))
    assert read_committed(spark, table) \
        .filter(F.col("ppl").isNull()).count() == 4


def test_cli_constraint_verbs(spark, table, capsys):
    import json

    from curator_spark import cli
    rc = cli.main(["--output", table, "--add-constraint",
                   "ppl_nonneg=ppl >= 0", "--local-cores", "4"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["constraint"] == "ppl_nonneg"
    assert table_constraints(table) == {"ppl_nonneg": "ppl >= 0"}
    rc = cli.main(["--output", table, "--drop-constraint",
                   "ppl_nonneg", "--local-cores", "4"])
    assert rc == 0
    assert table_constraints(table) == {}


def test_status_surfaces_constraints(spark, table):
    from curator_spark.status import format_run_status, run_status
    add_constraint(spark, table, "ppl_nonneg", "ppl >= 0")
    s = run_status(table)
    assert s["constraints"] == {"ppl_nonneg": "ppl >= 0"}
    assert "ppl_nonneg CHECK (ppl >= 0)" in format_run_status(table)


def test_drop_constraint_reopens_writes(spark, table):
    add_constraint(spark, table, "ppl_nonneg", "ppl >= 0")
    drop_constraint(table, "ppl_nonneg")
    assert table_constraints(table) == {}
    (_toy(spark, 2, lo=30_000, ppl=-1.0)
     .write.format("curator_table").mode("append").save(table))
    assert read_committed(spark, table) \
        .filter(F.col("ppl") < 0).count() == 2
    with pytest.raises(ValueError, match="no constraint"):
        drop_constraint(table, "ppl_nonneg")

def test_replace_where_enforces_constraints(spark, table):
    """replaceWhere's insert leg validates CHECK constraints before the
    atomic commit: a violating backfill aborts with nothing committed
    (the placed files are vacuum-able orphans)."""
    from curator_spark.dml import insert_overwrite_where
    add_constraint(spark, table, "ppl_nonneg", "ppl >= 0")
    led = make_ledger(table)
    v0 = led.latest_version()
    bad = _toy(spark, n=5, ppl=-5.0)   # violates ppl_nonneg
    with pytest.raises(ConstraintViolation):
        insert_overwrite_where(spark, table, bad,
                               where="conv_id < 'conv-000005'")
    assert led.latest_version() == v0            # nothing committed
    from curator_spark.checkpoint import read_committed
    assert read_committed(spark, table).count() == N0

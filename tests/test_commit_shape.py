"""One commit per verb: every mutating verb publishes all the actions it
causes — schema-evolution patch, protocol ratchet, txn mark and data —
in ONE commit-log version, so a verb that fails or loses a race leaves
no trace in the log (PROTOCOL.md §3).

The shape test pins the versions each verb publishes and their action
types; the failure tests pin that an abandoned verb commits nothing:
no bucket/schema version before a failed data commit or CHECK gate, no
protocol ratchet from a lost DV or rebucket race, and no schema patch
that silently undoes a concurrent ALTER."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import copy_table
from curator_spark import fixtures, schema
from curator_spark.alter import add_column
from curator_spark.checkpoint import (
    CommitLogLedger, ConcurrentDeleteError, ConcurrentMetadataError,
    ConcurrentRebucketError, create_table, delete_conversations,
    delete_rows_dv, make_ledger, read_committed, rebucket_table,
    run_checkpointed, table_history, table_protocol)
from curator_spark.constraints import add_constraint, drop_constraint
from curator_spark.datasource import CuratorTableDataSource
from curator_spark.incremental import append_batch_df
from curator_spark.merge import merge_into

BUCKET = {"col": "conv_id", "n_parts": 4, "fn": "md5full"}
NEW_BUCKET = {"col": "conv_id", "n_parts": 2, "fn": "md5full"}


class _Some:
    """Matches any positive action count (files per part vary)."""

    def __eq__(self, n):
        return isinstance(n, int) and n >= 1

    def __repr__(self):
        return "≥1"


SOME = _Some()


def _toy(spark, n=200, lo=0, ppl=None):
    return spark.range(lo, lo + n).select(
        F.format_string("conv-%06d", F.col("id")).alias("conv_id"),
        F.lit("user").alias("role"),
        (F.lit(float(ppl)) if ppl is not None
         else (F.col("id") % 97).cast("double")).alias("ppl"))


def _write_toy(df, out):
    (df.write.format("curator_table").option("bucketBy", "conv_id")
     .option("buckets", "4").mode("append").save(out))


def _ms(df):
    cols = sorted(df.columns)
    return sorted((tuple(r[c] for c in cols)
                   for r in df.select(*cols).collect()), key=repr)


def _ops_since(out, v0):
    return [h["operations"] for h in table_history(out)
            if h["version"] > (v0 or 0)]


@pytest.fixture(scope="module")
def inp(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("oneverb") / "in.parquet")
    fixtures.write_transcripts_parquet(p, 600, seed=17, n_parts=4)
    return p


@pytest.fixture(scope="module")
def run_table(spark, inp, tmp_path_factory):
    """A fresh bucketed 4-part checkpointed run."""
    out = str(tmp_path_factory.mktemp("oneverb_run") / "out")
    run_checkpointed(spark, inp, out, bucket=dict(BUCKET))
    return out


@pytest.fixture(scope="module")
def toy_table(spark, tmp_path_factory):
    """A fresh bucketed curator_table write."""
    spark.dataSource.register(CuratorTableDataSource)
    out = str(tmp_path_factory.mktemp("oneverb_toy") / "t")
    _write_toy(_toy(spark), out)
    return out


def _verb(case, spark, inp, run_table, toy_table, tmp_path):
    """Run the verb `case`; returns (table, head version before it)."""
    if case == "fresh_run":
        return run_table, None
    if case == "fresh_curator_table":
        return toy_table, None
    if case == "first_shard":
        out = str(tmp_path / "shard")
        run_checkpointed(spark, inp, out, only_parts=[0],
                         bucket=dict(BUCKET))
        return out, None
    src = run_table if case == "append_txn" else toy_table
    out = copy_table(src, tmp_path / "t")
    v0 = make_ledger(out).latest_version()
    if case == "append_txn":
        p = str(tmp_path / "batch.parquet")
        fixtures.write_transcripts_parquet(p, 200, seed=18, n_parts=4)
        new = spark.read.schema(schema.TRANSCRIPTS_SCHEMA).parquet(p)
        s = append_batch_df(spark, new, out, run_id="shape-append",
                            input_desc=p, txn=("shape-app", 1))
        assert s["rows_appended"] > 0
    elif case == "merge_evolve":
        src = (_toy(spark, 10, ppl=1000.0)
               .withColumn("quality", F.lit("gold"))
               .unionByName(_toy(spark, 2, lo=10_000)
                            .withColumn("quality", F.lit("fresh"))))
        merge_into(spark, out, src, evolve_schema=True)
    elif case == "first_dv_delete":
        assert delete_rows_dv(spark, out, ["conv-000003"])["rows_deleted"]
    elif case == "rebucket":
        assert rebucket_table(spark, out, dict(NEW_BUCKET))["rebucketed"]
    elif case == "add_constraint":
        add_constraint(spark, out, "ppl_nonneg", "ppl >= 0")
    return out, v0


@pytest.mark.parametrize("case, shape", [
    ("fresh_run", [{"table_meta": 1, "add": 4}, {"run_success": 1}]),
    ("first_shard", [{"table_meta": 1, "add": 1}]),
    ("append_txn", [{"add_files": SOME, "txn": 1}]),
    ("fresh_curator_table", [{"table_meta": 1, "add_files": SOME}]),
    ("merge_evolve", [{"table_meta": 1, "delete": SOME,
                       "add_files": SOME}]),
    ("first_dv_delete", [{"add_dv": SOME, "protocol": 1}]),
    ("rebucket", [{"rebucket": 1, "protocol": 1}]),
    ("add_constraint", [{"table_meta": 1, "protocol": 1}]),
])
def test_each_verb_commits_one_version(spark, inp, run_table, toy_table,
                                       tmp_path, case, shape):
    out, v0 = _verb(case, spark, inp, run_table, toy_table, tmp_path)
    assert _ops_since(out, v0) == shape


def test_failed_run_commit_leaves_table_unchanged(spark, inp, run_table,
                                                  tmp_path, monkeypatch):
    """The bucket spec and schema ride the data version: when that
    commit fails, the log is exactly as before, and the rerun equals a
    clean run."""
    out = str(tmp_path / "out")
    real = CommitLogLedger._append

    def boom(self, actions, *a, **kw):
        if any(x.get("type") == "add" for x in actions):
            raise RuntimeError("injected: data commit failed")
        return real(self, actions, *a, **kw)

    monkeypatch.setattr(CommitLogLedger, "_append", boom)
    with pytest.raises(RuntimeError, match="injected"):
        run_checkpointed(spark, inp, out, bucket=dict(BUCKET))
    led = make_ledger(out)
    assert led.latest_version() is None and led.table_meta() == {}

    monkeypatch.undo()
    run_checkpointed(spark, inp, out, bucket=dict(BUCKET))
    assert led.table_meta() == make_ledger(run_table).table_meta()
    assert _ms(read_committed(spark, out)) == \
        _ms(read_committed(spark, run_table))


def test_check_gate_failure_on_fresh_bucketed_table_leaves_no_version(
        spark, tmp_path):
    spark.dataSource.register(CuratorTableDataSource)
    out = str(tmp_path / "t")
    create_table(out)
    add_constraint(spark, out, "ppl_nonneg", "ppl >= 0")
    led = make_ledger(out)
    v, meta = led.latest_version(), led.table_meta()
    with pytest.raises(Exception, match="ppl_nonneg"):
        _write_toy(_toy(spark, 5, ppl=-1.0), out)
    assert led.latest_version() == v and led.table_meta() == meta


def test_lost_dv_race_ratchets_nothing(spark, toy_table, tmp_path,
                                       monkeypatch):
    """A DV delete that loses its race leaves the reader protocol as it
    was: no table without a single DV refuses DV-unaware readers."""
    out = copy_table(toy_table, tmp_path / "t")
    real = CommitLogLedger.add_dv

    def racing(self, marks, **kw):
        # a concurrent rewrite-delete replaces the marked file first
        delete_conversations(spark, out, ["conv-000003"])
        return real(self, marks, **kw)

    monkeypatch.setattr(CommitLogLedger, "add_dv", racing)
    with pytest.raises(ConcurrentDeleteError):
        delete_rows_dv(spark, out, ["conv-000003"])
    assert "deletion-vectors" not in table_protocol(out)["reader_features"]


def test_stale_rebucket_publishes_nothing(spark, toy_table, tmp_path,
                                          monkeypatch):
    out = copy_table(toy_table, tmp_path / "t")
    real = CommitLogLedger.rebucket
    heads = []

    def racing(self, *a, **kw):
        delete_conversations(spark, out, ["conv-000003"])
        heads.append(self.latest_version())
        return real(self, *a, **kw)

    monkeypatch.setattr(CommitLogLedger, "rebucket", racing)
    with pytest.raises(ConcurrentRebucketError):
        rebucket_table(spark, out, dict(NEW_BUCKET))
    assert make_ledger(out).latest_version() == heads[0]
    proto = table_protocol(out)
    assert "rebucket" not in proto["reader_features"]
    assert "rebucket" not in proto["writer_features"]
    assert make_ledger(out).table_meta()["bucket"] == BUCKET


def test_evolving_merge_racing_add_column_keeps_the_column(
        spark, toy_table, tmp_path, monkeypatch):
    """The merge's schema patch was computed before a concurrent ADD
    COLUMN committed: publishing it would drop that column from the
    declared schema, so the merge raises and commits nothing."""
    out = copy_table(toy_table, tmp_path / "t")
    real = CommitLogLedger.merge_commit

    def racing(self, actions, **kw):
        add_column(out, "note", "string")
        return real(self, actions, **kw)

    monkeypatch.setattr(CommitLogLedger, "merge_commit", racing)
    src = _toy(spark, 5, ppl=1000.0).withColumn("quality", F.lit("gold"))
    with pytest.raises(ConcurrentMetadataError, match="retry"):
        merge_into(spark, out, src, evolve_schema=True)
    fields = {f["name"] for f in
              make_ledger(out).table_meta()["schema"]["fields"]}
    assert "note" in fields and "quality" not in fields


def test_constraint_ddl_returns_its_own_version(spark, toy_table, tmp_path,
                                                monkeypatch):
    """Another writer's version lands right after each constraint
    commit: the DDL still returns the version holding its table_meta."""
    out = copy_table(toy_table, tmp_path / "t")
    real = CommitLogLedger._append

    def then_another(self, actions, *a, **kw):
        v = real(self, actions, *a, **kw)
        real(self, [])
        return v

    monkeypatch.setattr(CommitLogLedger, "_append", then_another)
    v_add = add_constraint(spark, out, "ppl_nonneg", "ppl >= 0")
    v_drop = drop_constraint(out, "ppl_nonneg")
    monkeypatch.undo()
    ops = {h["version"]: h["operations"] for h in table_history(out)}
    assert ops[v_add] == {"table_meta": 1, "protocol": 1}
    assert ops[v_drop] == {"table_meta": 1}

"""MERGE INTO (curator_spark.merge): the schema-generic conditional
upsert verb over commitlog tables — update/delete matched rows,
insert unmatched ones, all in ONE atomic log version, with manifest-
stats + bucket pruning keeping untouched files untouched and Delta's
optimistic conflict rule raised (never silently swallowed) when a
concurrent rewrite stole a candidate file.

Reference parity: the batch resubmission loop's id-keyed
replace-or-append (base_batch_request_processor.py:300-309,
base_request_processor.py:438-481) as a declarative table verb.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import copy_table, part_file_counts
from curator_spark.checkpoint import (
    CommitLogLedger, compact_partition, make_ledger, read_committed,
    table_history, table_row_count)
from curator_spark.datasource import CuratorTableDataSource
from curator_spark.merge import (
    ConcurrentMergeError, merge_dataframes, merge_into)


def _sorted(rows):
    return sorted(rows, key=repr)  # None-safe total order


def _ms(df):
    cols = sorted(df.columns)
    return _sorted(tuple(r[c] for c in cols)
                   for r in df.select(*cols).collect())


# ------------------------------------------------- merge_dataframes


def _target(spark):
    return spark.createDataFrame(
        [("k1", 1, 10.0), ("k2", 2, 20.0), ("k3", 3, 30.0),
         (None, 4, 40.0)],
        "key string, seq int, val double")


def _source(spark):
    # k2 updated, k9 new, NULL-key source row must be dropped
    return spark.createDataFrame(
        [("k2", 20, 2.5), ("k9", 90, 99.0), (None, 0, 0.0)],
        "key string, seq int, val double")


def test_merge_df_update_insert(spark):
    got = _ms(merge_dataframes(_target(spark), _source(spark), "key"))
    assert got == _sorted([
        ("k1", 1, 10.0), ("k2", 20, 2.5), ("k3", 3, 30.0),
        (None, 4, 40.0),          # NULL target key never matches
        ("k9", 90, 99.0),         # insert
    ])


def test_merge_df_matched_condition(spark):
    got = _ms(merge_dataframes(
        _target(spark), _source(spark), "key",
        matched_condition="s.val > t.val"))   # 2.5 > 20.0 is false
    assert ("k2", 2, 20.0) in got and ("k2", 20, 2.5) not in got
    assert ("k9", 90, 99.0) in got            # inserts unaffected


def test_merge_df_delete_clause(spark):
    got = _ms(merge_dataframes(
        _target(spark), _source(spark), "key",
        when_matched="delete", when_not_matched=None))
    assert got == _sorted([("k1", 1, 10.0), ("k3", 3, 30.0),
                          (None, 4, 40.0)])


def test_merge_df_insert_only(spark):
    got = _ms(merge_dataframes(
        _target(spark), _source(spark), "key",
        when_matched=None, when_not_matched="insert"))
    assert ("k2", 2, 20.0) in got and ("k9", 90, 99.0) in got


def test_merge_df_validates_clauses(spark):
    with pytest.raises(ValueError, match="no-op"):
        merge_dataframes(_target(spark), _source(spark), "key",
                         when_matched=None, when_not_matched=None)
    with pytest.raises(ValueError, match="when_matched"):
        merge_dataframes(_target(spark), _source(spark), "key",
                         when_matched="upsert")
    with pytest.raises(ValueError, match="lacks target columns"):
        merge_dataframes(_target(spark),
                         _source(spark).drop("val"), "key")


# ------------------------------------------------------- merge_into


N0 = 800


def _toy(spark, n=N0, ppl_base=0.0):
    return spark.range(n).select(
        F.concat(F.lit("conv-"), F.col("id")).alias("conv_id"),
        (F.col("id") % 5).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        (F.col("id") % 97 + ppl_base).cast("double").alias("ppl"))


@pytest.fixture(scope="module")
def built_table(spark, tmp_path_factory):
    spark.dataSource.register(CuratorTableDataSource)
    out = str(tmp_path_factory.mktemp("merge") / "t")
    (_toy(spark).write.format("curator_table")
     .option("bucketBy", "conv_id").option("buckets", "8")
     .mode("append").save(out))
    return out


@pytest.fixture()
def table(spark, built_table, tmp_path):
    """A private copy of the module's table for each test."""
    spark.dataSource.register(CuratorTableDataSource)
    return copy_table(built_table, tmp_path / "t")


def test_merge_into_update_insert(spark, table):
    led = make_ledger(table)
    v0 = led.latest_version()
    upd = _toy(spark, 20, ppl_base=1000.0)          # conv-0..conv-19
    ins = (_toy(spark, 5).withColumn(
        "conv_id", F.concat(F.lit("new-"), F.col("conv_id"))))
    s = merge_into(spark, table, upd.unionByName(ins))
    assert s["rows_updated"] == 20 and s["rows_inserted"] == 5
    assert s["rows_deleted"] == 0
    # ONE atomic log version carried every swap and every insert
    assert s["version"] == led.latest_version() == v0 + 1
    # pruning did real work: most files were never touched
    assert s["files_untouched"] > 0
    after = read_committed(spark, table)
    assert after.count() == N0 + 5
    assert table_row_count(table) == N0 + 5       # metadata-only count
    assert after.filter(F.col("ppl") >= 1000.0).count() == 20
    assert after.filter(F.col("conv_id").startswith("new-")).count() == 5
    # untouched rows byte-identical
    assert (_ms(after.filter(~F.col("conv_id").startswith("new-")
                             & (F.col("ppl") < 1000.0)).drop("part"))
            == _ms(_toy(spark).join(
                upd.select("conv_id"), "conv_id", "left_anti")))
    # the merge is time-travel-invisible at the pre-merge version
    snap = read_committed(spark, table, version=v0)
    assert snap.count() == N0
    assert snap.filter(F.col("ppl") >= 1000.0).count() == 0
    ops = [op for h in table_history(table) for op in h["operations"]]
    assert "delete" in ops and "add_files" in ops


def test_merge_into_matched_condition(spark, table):
    # only rows whose incoming ppl is LOWER win (a quality-improve rule)
    src = (_toy(spark, 10)
           .withColumn("ppl", F.when(F.col("conv_id") == "conv-3",
                                     F.lit(-1.0)).otherwise(
                                     F.col("ppl") + 500.0)))
    s = merge_into(spark, table, src, when_not_matched=None,
                   matched_condition="s.ppl < t.ppl")
    assert s["rows_updated"] == 1
    after = read_committed(spark, table)
    assert after.filter(F.col("ppl") == -1.0).count() == 1
    assert after.filter(F.col("ppl") >= 500.0).count() == 0
    assert after.count() == N0


def test_merge_into_delete_clause(spark, table):
    src = _toy(spark, 30).select("conv_id")  # keys-only source is fine
    s = merge_into(spark, table, src, when_matched="delete",
                   when_not_matched=None)
    assert s["rows_deleted"] == 30 and s["rows_inserted"] == 0
    after = read_committed(spark, table)
    assert after.count() == N0 - 30
    assert after.filter(F.col("conv_id") == "conv-7").count() == 0


def test_merge_into_duplicate_source_keys_refused(spark, table):
    dup = _toy(spark, 4).unionByName(_toy(spark, 2))
    n = table_row_count(table)
    v = make_ledger(table).latest_version()
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_into(spark, table, dup)
    assert table_row_count(table) == n
    assert make_ledger(table).latest_version() == v


def test_merge_into_empty_source_commits_nothing(spark, table):
    led = make_ledger(table)
    v = led.latest_version()
    s = merge_into(spark, table, _toy(spark, 0))
    assert s["version"] is None and s["n_source_rows"] == 0
    assert led.latest_version() == v


def test_merge_into_no_match_no_swap(spark, table):
    """A source that matches nothing and inserts nothing new must not
    rewrite any file (stats false positives are filtered by the
    matched-count probe)."""
    led = make_ledger(table)
    v = led.latest_version()
    src = (_toy(spark, 3).withColumn(
        "conv_id", F.concat(F.lit("zz-"), F.col("conv_id"))))
    s = merge_into(spark, table, src, when_not_matched=None)
    assert s["files_rewritten"] == 0 and s["version"] is None
    assert led.latest_version() == v


def test_merge_into_source_missing_columns(spark, table):
    with pytest.raises(ValueError, match="lacks target columns"):
        merge_into(spark, table, _toy(spark, 5).drop("ppl"))


def test_merge_into_refuses_markers_backend(spark, legacy_markers_table):
    with pytest.raises(ValueError, match="adopt_markers"):
        merge_into(spark, legacy_markers_table, _toy(spark, 3))


def test_merge_df_three_clause(spark):
    """Delta's full clause set in one statement: WHEN MATCHED AND
    <del> THEN DELETE / WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED
    AND <ins> THEN INSERT. CDC metadata (is_del) steers clauses but
    never lands in the output."""
    src = spark.createDataFrame(
        [("k1", 0, 0.0, True),     # tombstone for existing → delete
         ("k2", 20, 2.5, False),   # upsert for existing → update
         ("k8", 80, 8.0, True),    # tombstone for absent → no-op
         ("k9", 90, 99.0, False)],  # upsert for absent → insert
        "key string, seq int, val double, is_del boolean")
    got = _ms(merge_dataframes(
        _target(spark), src, "key",
        matched_delete_condition="s.is_del",
        not_matched_condition="NOT is_del"))
    assert got == _sorted([
        ("k2", 20, 2.5), ("k3", 3, 30.0), (None, 4, 40.0),
        ("k9", 90, 99.0)])


def test_merge_df_delete_condition_requires_update(spark):
    with pytest.raises(ValueError, match="3-clause"):
        merge_dataframes(_target(spark), _source(spark), "key",
                         when_matched="delete",
                         matched_delete_condition="s.val > 0")


def test_merge_into_three_clause_single_version(spark, table):
    led = make_ledger(table)
    v0 = led.latest_version()
    upd = (_toy(spark, 20, ppl_base=1000.0)
           .withColumn("is_del", F.col("conv_id").isin(
               "conv-1", "conv-2", "conv-3")))
    ins = (_toy(spark, 3).withColumn(
        "conv_id", F.concat(F.lit("new-"), F.col("conv_id")))
        .withColumn("is_del", F.col("conv_id") == "new-conv-0"))
    s = merge_into(spark, table, upd.unionByName(ins),
                   matched_delete_condition="s.is_del",
                   not_matched_condition="NOT is_del")
    assert s["rows_deleted"] == 3      # matched tombstones
    assert s["rows_updated"] == 17
    assert s["rows_inserted"] == 2     # absent tombstone is a no-op
    assert led.latest_version() == v0 + 1   # still ONE atomic commit
    after = read_committed(spark, table)
    assert after.count() == N0 - 3 + 2
    assert after.filter(F.col("conv_id").isin(
        "conv-1", "conv-2", "conv-3")).count() == 0
    assert after.filter(F.col("conv_id") == "new-conv-0").count() == 0
    assert after.filter(F.col("ppl") >= 1000.0).count() == 17
    # the CDC metadata column never lands in the table
    assert "is_del" not in after.columns


def test_merge_into_txn_same_version_idempotent(spark, table):
    """txn=(app, v) rides the SAME commit as the merge; a replay of the
    same work unit is a no-op BEFORE any Spark work."""
    led = make_ledger(table)
    src = _toy(spark, 10, ppl_base=1000.0)
    s1 = merge_into(spark, table, src, txn=("cdc", 0))
    assert s1["rows_updated"] == 10 and not s1["txn_skipped"]
    assert led.last_txn("cdc") == 0    # mark landed with the data
    v1 = led.latest_version()
    s2 = merge_into(spark, table, src, txn=("cdc", 0))   # replay
    assert s2["txn_skipped"] and s2["version"] is None
    assert led.latest_version() == v1  # nothing committed
    # the next work unit applies normally
    s3 = merge_into(spark, table, _toy(spark, 5, ppl_base=2000.0),
                    txn=("cdc", 1))
    assert s3["rows_updated"] == 5 and not s3["txn_skipped"]
    assert led.last_txn("cdc") == 1


def test_merge_evolve_schema_widens_in_same_commit(spark, table):
    """Delta's schema autoMerge: an extra source column becomes a
    nullable table column, recorded as a table_meta action in the SAME
    atomic version as the merge — untouched rows read NULL, only
    matched/inserted rows carry values."""
    led = make_ledger(table)
    v0 = led.latest_version()
    src = (_toy(spark, 10, ppl_base=1000.0)
           .withColumn("quality", F.lit("gold"))
           .unionByName(_toy(spark, 2)
                        .withColumn("conv_id", F.concat(
                            F.lit("new-"), F.col("conv_id")))
                        .withColumn("quality", F.lit("fresh"))))
    s = merge_into(spark, table, src, evolve_schema=True)
    assert s["rows_updated"] == 10 and s["rows_inserted"] == 2
    assert led.latest_version() == v0 + 1          # ONE commit
    fields = {f["name"] for f in led.table_meta()["schema"]["fields"]}
    assert "quality" in fields
    after = read_committed(spark, table)
    assert "quality" in after.columns
    assert after.filter(F.col("quality") == "gold").count() == 10
    assert after.filter(F.col("quality") == "fresh").count() == 2
    # untouched rows read NULL for the evolved column
    assert after.filter(F.col("quality").isNull()).count() == N0 - 10


def test_merge_default_never_lands_extra_columns(spark, table):
    src = _toy(spark, 5).withColumn("seq", F.lit(7))
    merge_into(spark, table, src, when_not_matched=None,
               matched_condition="s.seq > 0")
    after = read_committed(spark, table)
    assert "seq" not in after.columns
    fields = {f["name"] for f in
              make_ledger(table).table_meta()
              ["schema"]["fields"]}
    assert "seq" not in fields


def test_merge_crash_before_commit_leaves_table_unchanged(spark, table,
                                                          monkeypatch):
    """Kill the merge after every rewrite is staged/placed but before
    the log commit: readers see the pre-merge table exactly; the
    placed-but-unreferenced outputs are orphans vacuum reclaims."""
    from curator_spark.checkpoint import vacuum
    before = _ms(read_committed(spark, table))
    v = make_ledger(table).latest_version()

    def boom(self, actions, **kw):
        raise RuntimeError("simulated crash at commit")

    monkeypatch.setattr(CommitLogLedger, "merge_commit", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        merge_into(spark, table, _toy(spark, 20, ppl_base=1000.0))
    led = make_ledger(table)
    assert led.latest_version() == v               # nothing committed
    assert _ms(read_committed(spark, table)) == before
    assert vacuum(table, min_age_s=0) > 0          # orphans reclaimed
    assert _ms(read_committed(spark, table)) == before


def test_merge_over_deletion_vector_does_not_resurrect(spark, table):
    """A candidate file carrying a deletion vector: the merge's probe
    and rewrite both read minus-mask, and the swap materializes the
    mask — DV'd rows must never reappear, and untouched masked rows
    must stay gone."""
    from curator_spark.checkpoint import delete_rows_dv
    s0 = delete_rows_dv(spark, table, ["conv-1", "conv-2"])
    assert s0["rows_deleted"] == 2
    assert read_committed(spark, table).count() == N0 - 2
    # update conv-3 (same bucket space, possibly same files)
    s = merge_into(spark, table, _toy(spark, 10, ppl_base=1000.0),
                   when_not_matched=None)
    assert s["rows_updated"] == 8     # conv-1/conv-2 are masked out
    after = read_committed(spark, table)
    assert after.count() == N0 - 2
    assert after.filter(F.col("conv_id").isin(
        "conv-1", "conv-2")).count() == 0
    assert after.filter(F.col("ppl") >= 1000.0).count() == 8


def test_cli_merge_verb(spark, table, tmp_path, capsys):
    import json

    from curator_spark import cli
    src = str(tmp_path / "src.parquet")
    _toy(spark, 10, ppl_base=1000.0).write.parquet(src)
    rc = cli.main(["--input", src, "--output", table, "--merge",
                   "--local-cores", "4"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows_updated"] == 10 and out["rows_inserted"] == 0
    assert (read_committed(spark, table)
            .filter(F.col("ppl") >= 1000.0).count() == 10)
    # autoMerge via the CLI: a new source column widens the table
    src2 = str(tmp_path / "src2.parquet")
    (_toy(spark, 4).withColumn("grade", F.lit("A"))
     .write.parquet(src2))
    rc = cli.main(["--input", src2, "--output", table, "--merge",
                   "--merge-evolve-schema", "--local-cores", "4"])
    assert rc == 0
    after = read_committed(spark, table)
    assert after.filter(F.col("grade") == "A").count() == 4
    assert after.filter(F.col("grade").isNull()).count() == N0 - 4


def test_merge_random_op_soup_matches_model(spark, table):
    """Seeded random sequence of upsert-merges, delete-merges, CDC
    batches (update+tombstone+insert mixed), and compactions, folded
    against a plain-dict model — the table must equal the model after
    every op. Catches interaction bugs no single-shape test hits."""
    import random

    from curator_spark.checkpoint import compact_partition
    from curator_spark.streaming.apply_changes import apply_cdc_batch

    rng = random.Random(17)
    model = {f"conv-{i}": float(i % 97) for i in range(N0)}

    def mk(rows):  # rows: [(conv_id, ppl)]
        return spark.createDataFrame(
            [(k, 0, "user", v) for k, v in rows],
            "conv_id string, turn_idx int, role string, ppl double")

    def sample_keys(n):
        pool = list(model) + [f"x-{rng.randrange(10_000)}"
                              for _ in range(3)]
        return rng.sample(pool, min(n, len(pool)))

    for step in range(8):
        op = rng.choice(["upsert", "delete", "cdc", "compact"])
        if op == "upsert":
            rows = [(k, float(1000 + step)) for k in sample_keys(25)]
            merge_into(spark, table, mk(rows))
            model.update(dict(rows))
        elif op == "delete":
            keys = sample_keys(15)
            merge_into(spark, table, mk([(k, 0.0) for k in keys]),
                       when_matched="delete", when_not_matched=None)
            for k in keys:
                model.pop(k, None)
        elif op == "cdc":
            batch = []
            for i, k in enumerate(sample_keys(20)):
                tomb = rng.random() < 0.3
                batch.append((k, 0, "user",
                              None if tomb else float(2000 + step),
                              i, tomb))
                if tomb:
                    model.pop(k, None)
                else:
                    model[k] = float(2000 + step)
            apply_cdc_batch(spark, spark.createDataFrame(
                batch, "conv_id string, turn_idx int, role string, "
                       "ppl double, seq long, is_delete boolean"),
                table)
        else:
            compact_partition(spark, table, rng.randrange(8))
        got = {r["conv_id"]: r["ppl"] for r in
               read_committed(spark, table)
               .select("conv_id", "ppl").collect()}
        assert got == model, f"diverged after step {step} ({op})"


def test_merge_into_concurrent_compaction_raises(spark, table,
                                                 monkeypatch):
    """Delta's MERGE-vs-OPTIMIZE conflict: a compaction that replaces a
    candidate file between the merge snapshot and its commit makes the
    swap a stale no-op at replay — merge_into must RAISE, not report
    rows_updated as if the update landed."""
    orig = CommitLogLedger.merge_commit
    fired = {}

    def hijack(self, actions, **kw):
        if not fired:
            fired["x"] = True
            for a in actions:
                if a["type"] == "delete":
                    compact_partition(spark, table, a["part"])
        return orig(self, actions, **kw)

    monkeypatch.setattr(CommitLogLedger, "merge_commit", hijack)
    with pytest.raises(ConcurrentMergeError, match="retry"):
        merge_into(spark, table, _toy(spark, 20, ppl_base=1000.0),
                   when_not_matched=None)
    # the retry converges: fresh snapshot, clean commit
    monkeypatch.setattr(CommitLogLedger, "merge_commit", orig)
    s = merge_into(spark, table, _toy(spark, 20, ppl_base=1000.0),
                   when_not_matched=None)
    assert s["rows_updated"] == 20
    after = read_committed(spark, table)
    assert after.filter(F.col("ppl") >= 1000.0).count() == 20
    assert after.count() == N0


def test_merge_stale_part_leaves_table_unchanged(spark, table, monkeypatch):
    """A MERGE spanning several parts is all or nothing under a
    concurrent compaction of one of them: the stale swap abandons the
    whole version, so neither the other parts' updates nor the inserts
    publish."""
    led = make_ledger(table)
    v0, before = led.latest_version(), _ms(read_committed(spark, table))
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
    upd = _toy(spark, 20, ppl_base=1000.0)
    ins = _toy(spark, 5).withColumn(
        "conv_id", F.concat(F.lit("new-"), F.col("conv_id")))
    with pytest.raises(ConcurrentMergeError, match="retry"):
        merge_into(spark, table, upd.unionByName(ins))
    monkeypatch.setattr(CommitLogLedger, "merge_commit", orig)
    assert led.latest_version() == v0 + 1  # the compaction alone
    assert _ms(read_committed(spark, table)) == before

"""Schema-in-log + additive schema evolution (checkpoint.py): commitlog
tables record their schema as table_meta (Delta's metaData action), so
snapshot reads plan with the DECLARED schema — no footer-sampling
inference — and widening the table is one merged-meta commit: old files
read nulls for later-added columns, type changes are refused.
"""

from __future__ import annotations

import os
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from conftest import copy_table
from curator_spark import fixtures
from curator_spark.checkpoint import (
    _evolve_meta, _merge_schema_json, compact_partition, file_column_stats,
    make_ledger, read_committed, run_checkpointed)


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("schemaevo")
    p = str(base / "in.parquet")
    fixtures.write_transcripts_parquet(p, 900, seed=41, n_parts=2)
    out = str(base / "out")
    run_checkpointed(spark, p, out)
    return out


def _gold_rows(spark, table: str, part: int):
    """20 rows of `part` carrying a NEW column quality_tag = 'gold'.
    when() keeps the new column nullable — a bare lit() is non-nullable
    and the schema evolution rightly refuses it."""
    return (read_committed(spark, table).filter(f"part = {part}").limit(20)
            .withColumn("quality_tag",
                        F.when(F.col("conv_id").isNotNull(), "gold"))
            .drop("part"))


def _append_file(ledger, table: str, part: int, df, name: str) -> None:
    """A widened writer's append: `df` lands in `part` as one file
    named `name`, after a merged-meta commit records its schema."""
    staging = os.path.join(table, f"_stage-{uuid.uuid4().hex[:8]}")
    df.coalesce(1).write.parquet(staging)
    [src] = [os.path.join(staging, f) for f in os.listdir(staging)
             if f.endswith(".parquet")]
    man = {name: {"n_rows": pq.ParquetFile(src).metadata.num_rows,
                  "n_bytes": os.path.getsize(src)}}
    stats = {name: file_column_stats(src)}
    os.replace(src, os.path.join(table, "data", f"part={part}", name))
    ledger.set_table_meta(_evolve_meta(ledger.table_meta(), df.schema))
    ledger.append_part(part, man, man[name]["n_rows"], f"wide-{name}",
                       stats=stats)


def test_schema_recorded_and_used_for_planning(spark, table):
    meta = make_ledger(table).table_meta()
    names = [f["name"] for f in meta["schema"]["fields"]]
    assert "conv_id" in names and "keep" in names and "part" in names
    # the read plans with the declared schema (same fields back)
    df = read_committed(spark, table)
    assert set(df.columns) == set(names)


def test_additive_widening_old_files_read_null(spark, table):
    ledger = make_ledger(table)
    base_rows = read_committed(spark, table).count()
    wide = _gold_rows(spark, table, 0)
    n_new = wide.count()
    _append_file(ledger, table, 0, wide, f"{uuid.uuid4().hex[:8]}.parquet")

    df = read_committed(spark, table)
    assert "quality_tag" in df.columns
    assert df.count() == base_rows + n_new
    assert df.filter("quality_tag = 'gold'").count() == n_new
    # every pre-evolution row reads null for the added column
    assert df.filter("quality_tag IS NULL").count() == base_rows
    # time travel BEFORE the widening still knows the widened schema is
    # not retroactive data: those snapshots simply predate the rows
    assert df.filter("quality_tag IS NOT NULL").select("conv_id").count() \
        == n_new


def test_compaction_keeps_evolved_columns(spark, table, tmp_path):
    """Compaction plans with the declared schema, like every other
    rewrite: a column added by additive evolution survives it. The
    widened file is named to sort last, so a footer-inferred read would
    take the schema from an older file and drop the column."""
    out = copy_table(table, tmp_path / "t")
    ledger = make_ledger(out)
    _append_file(ledger, out, 1, _gold_rows(spark, out, 1),
                 "zzzz-widened.parquet")
    rows = read_committed(spark, out).count()
    r = compact_partition(spark, out, 1, target_files=1)
    assert r["compacted"] and r["files_after"] == 1
    df = read_committed(spark, out)
    assert df.count() == rows
    assert df.filter("part = 1 AND quality_tag = 'gold'").count() == 20


def test_type_change_and_nonnullable_refused():
    old = {"type": "struct", "fields": [
        {"name": "a", "type": "string", "nullable": True, "metadata": {}}]}
    with pytest.raises(ValueError, match="cannot change type"):
        _merge_schema_json(old, {"type": "struct", "fields": [
            {"name": "a", "type": "long", "nullable": True,
             "metadata": {}}]})
    with pytest.raises(ValueError, match="must be nullable"):
        _merge_schema_json(old, {"type": "struct", "fields": [
            {"name": "b", "type": "string", "nullable": False,
             "metadata": {}}]})
    # idempotent + additive
    merged = _merge_schema_json(old, {"type": "struct", "fields": [
        {"name": "a", "type": "string", "nullable": True, "metadata": {}},
        {"name": "b", "type": "string", "nullable": True, "metadata": {}}]})
    assert [f["name"] for f in merged["fields"]] == ["a", "b"]
    assert _merge_schema_json(merged, old) == merged


def test_markers_backend_records_nothing(spark, legacy_markers_table,
                                         tmp_path):
    """A legacy marker table is refused before anything is recorded;
    adopting it records the footer schema (plus the `part` column) in
    the one adoption commit."""
    from curator_spark.checkpoint import adopt_markers
    out = legacy_markers_table
    with pytest.raises(ValueError, match="adopt_markers"):
        run_checkpointed(spark, str(tmp_path / "in.parquet"), out)
    assert not os.path.exists(os.path.join(out, "_commitlog"))
    adopt_markers(out)
    fields = make_ledger(out).table_meta()["schema"]["fields"]
    assert [(f["name"], f["type"]) for f in fields] == [
        ("conv_id", "string"), ("turn_idx", "long"), ("part", "integer")]
    assert read_committed(spark, out).count() == 2

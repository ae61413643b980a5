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

from curator_spark import fixtures
from curator_spark.checkpoint import (
    _merge_schema_json, file_column_stats, make_ledger, read_committed,
    record_table_schema, run_checkpointed)


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("schemaevo")
    p = str(base / "in.parquet")
    fixtures.write_transcripts_parquet(p, 900, seed=41, n_parts=2)
    out = str(base / "out")
    run_checkpointed(spark, p, out)
    return out


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

    # a widened writer appends 20 rows carrying a NEW column
    # when() keeps the new column nullable — a bare lit() is
    # non-nullable and record_table_schema rightly refuses it
    wide = (read_committed(spark, table).filter("part = 0").limit(20)
            .withColumn("quality_tag",
                        F.when(F.col("conv_id").isNotNull(), "gold"))
            .drop("part"))
    n_new = wide.count()
    tag = uuid.uuid4().hex[:8]
    staging = os.path.join(table, f"_stage-{tag}")
    wide.coalesce(1).write.parquet(staging)
    pdir = os.path.join(table, "data", "part=0")
    man, stats = {}, {}
    for fn in sorted(os.listdir(staging)):
        if not fn.endswith(".parquet"):
            continue
        newname = f"{tag}-{fn}"
        src = os.path.join(staging, fn)
        man[newname] = {"n_rows": pq.ParquetFile(src).metadata.num_rows,
                        "n_bytes": os.path.getsize(src)}
        stats[newname] = file_column_stats(src)
        os.replace(src, os.path.join(pdir, newname))
    record_table_schema(ledger, wide.schema)   # merged-meta commit
    ledger.append_part(0, man, n_new, f"wide-{tag}", stats=stats)

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

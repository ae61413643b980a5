"""Maintenance auto-pilot: the report prices debt from metadata only;
run_maintenance compacts + vacuums and converges to a clean report."""

from __future__ import annotations

import pytest

from curator_spark import fixtures
from curator_spark.checkpoint import read_committed, run_checkpointed, \
    table_row_count
from curator_spark.incremental import append_new_conversations
from curator_spark.maintenance import maintenance_report, run_maintenance


def test_report_then_maintain_then_clean(spark, tmp_path):
    p = str(tmp_path / "b0.parquet")
    fixtures.write_transcripts_parquet(p, 400, seed=41, n_parts=4)
    out = str(tmp_path / "table")
    run_checkpointed(spark, p, out)
    for i in range(3):  # accrete small files
        b = str(tmp_path / f"b{i + 1}.parquet")
        fixtures.write_transcripts_parquet(b, 150, seed=42 + i,
                                           n_parts=4)
        append_new_conversations(spark, b, out)
    rows = table_row_count(out)

    rep = maintenance_report(out, target_files=2, min_age_s=0)
    assert rep["parts_needing_compaction"]
    assert rep["max_files_per_part"] > 2
    assert rep["log_head"] >= 4

    r = run_maintenance(spark, out, target_files=2, min_age_s=0)
    assert r["parts_compacted"]
    assert r["files_after"] < r["files_before"]
    assert r["vacuumed_files"] > 0
    # converged: nothing left to do, and not a row was harmed
    assert r["after"]["parts_needing_compaction"] == []
    assert r["after"]["reclaimable_files"] == 0
    assert table_row_count(out) == rows
    assert read_committed(spark, out).count() == rows

    # idempotent: a second pass is a no-op
    r2 = run_maintenance(spark, out, target_files=2, min_age_s=0)
    assert r2["parts_compacted"] == [] and r2["vacuumed_files"] == 0


def test_report_refuses_markers_backend(legacy_markers_table):
    with pytest.raises(ValueError, match="adopt_markers"):
        maintenance_report(legacy_markers_table)

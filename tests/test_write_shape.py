"""Write shape of the scored stage: the staged write rebalances rows by
`part`, so the number of files a part lands in follows its size. Small
parts land in one file each; a part whose rows span several map tasks
is split into files of about the AQE advisory partition size."""

from __future__ import annotations

import os

import pytest

from conftest import copy_table, multi_file_parts, part_file_counts
from curator_spark import fixtures
from curator_spark.checkpoint import read_committed, run_checkpointed
from curator_spark.incremental import append_new_conversations


@pytest.fixture(scope="module")
def shape_input(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("shape") / "in.parquet")
    fixtures.write_transcripts_parquet(p, 1600, seed=23, n_parts=4)
    return p


@pytest.fixture(scope="module")
def one_file_table(spark, shape_input, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("shape_one") / "out")
    run_checkpointed(spark, shape_input, out)
    return out


def _sorted_rows(spark, out):
    return read_committed(spark, out).orderBy(
        "conv_id", "turn_idx").toPandas()


def test_small_parts_land_one_file_each(one_file_table):
    counts = part_file_counts(one_file_table)
    assert counts == {0: 1, 1: 1, 2: 1, 3: 1}
    # and nothing else sits in data/: the manifest is the whole table
    for p in counts:
        d = os.path.join(one_file_table, "data", f"part={p}")
        assert len([f for f in os.listdir(d)
                    if f.endswith(".parquet")]) == 1


def test_part_spanning_map_tasks_splits_into_files(spark, shape_input,
                                                   one_file_table,
                                                   tmp_path):
    out = str(tmp_path / "split")
    with multi_file_parts(spark):
        run_checkpointed(spark, shape_input, out)
    counts = part_file_counts(out)
    assert sorted(counts) == [0, 1, 2, 3]
    assert all(n >= 2 for n in counts.values()), counts
    # the same rows, however they are cut into files
    assert _sorted_rows(spark, out).equals(
        _sorted_rows(spark, one_file_table))


def test_append_adds_one_file_per_touched_part(spark, one_file_table,
                                               tmp_path):
    out = copy_table(one_file_table, tmp_path / "out")
    before = part_file_counts(out)
    batch = str(tmp_path / "batch.parquet")
    fixtures.write_transcripts_parquet(batch, 400, seed=29, n_parts=4)
    s = append_new_conversations(spark, batch, out)
    assert s["rows_appended"] > 0
    after = part_file_counts(out)
    touched = {p for p in after if after[p] != before.get(p, 0)}
    assert len(touched) >= 2, touched
    assert {p: after[p] - before.get(p, 0) for p in touched} \
        == {p: 1 for p in touched}

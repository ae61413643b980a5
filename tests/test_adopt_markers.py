"""Legacy marker-layout tables (_ledger/part-K.json + _SUCCESS_RUN, no
commit log): every read and write surface refuses them with a pointer
at `checkpoint.adopt_markers`, and adoption turns one into a commit-log
table in ONE version — same rows, memoized rerun, crash-safe cleanup.
"""

from __future__ import annotations

import os
import shutil

import pytest

from conftest import write_legacy_markers_dir
from curator_spark import (alter, cdf, checkpoint, cli, constraints,
                           datasource, dml, export_delta, fixtures, status,
                           wap)
from curator_spark.checkpoint import (adopt_markers, make_ledger,
                                      read_committed, run_checkpointed)


def _sink(df, since, until):
    df.count()


# verb → call(spark, legacy_dir, scratch_dir). Surfaces that keep a
# refusal test in their own module (clone, compaction, curator_table
# write, delete, feed, append, maintenance, merge, protocol, restore,
# schema recording, time travel, table_changes, the row feed, vacuum,
# run_checkpointed) are not repeated here.
SURFACES = {
    "read_committed": lambda s, o, t: read_committed(s, o),
    "snapshot_files": lambda s, o, t: checkpoint.snapshot_files(o),
    "table_row_count": lambda s, o, t: checkpoint.table_row_count(o),
    "table_history": lambda s, o, t: checkpoint.table_history(o),
    "run_status": lambda s, o, t: status.run_status(o),
    "revalidate_committed":
        lambda s, o, t: checkpoint.revalidate_committed(o),
    "create_table": lambda s, o, t: checkpoint.create_table(o),
    "optimize_table": lambda s, o, t: checkpoint.optimize_table(s, o),
    "delete_rows_dv":
        lambda s, o, t: checkpoint.delete_rows_dv(s, o, ["c0"]),
    "build_bloom_index":
        lambda s, o, t: checkpoint.build_bloom_index(s, o, "conv_id"),
    "delete_where":
        lambda s, o, t: dml.delete_where(s, o, "turn_idx = 0"),
    "rename_column":
        lambda s, o, t: alter.rename_column(o, "turn_idx", "idx"),
    "add_constraint": lambda s, o, t: constraints.add_constraint(
        s, o, "pos", "turn_idx >= 0"),
    "consume_row_changes":
        lambda s, o, t: cdf.consume_row_changes(s, o, "c", _sink),
    "create_branch": lambda s, o, t: wap.create_branch(
        o, os.path.join(t, "branch")),
    "export_delta_log": lambda s, o, t: export_delta.export_delta_log(o),
    "curator_table_read":
        lambda s, o, t: datasource._SnapshotReader(None, o),
    "cli_status": lambda s, o, t: cli.main(["--status", "--output", o]),
}


@pytest.mark.parametrize("verb", sorted(SURFACES))
def test_legacy_markers_dir_refused(spark, legacy_markers_table, tmp_path,
                                    verb):
    with pytest.raises(ValueError, match="adopt_markers"):
        SURFACES[verb](spark, legacy_markers_table, str(tmp_path))
    # refusing never touched the legacy table
    assert os.path.isdir(os.path.join(legacy_markers_table, "_ledger"))
    assert not os.path.exists(os.path.join(legacy_markers_table,
                                           "_commitlog"))


@pytest.fixture(scope="module")
def small_input(tmp_path_factory):
    p = tmp_path_factory.mktemp("adopt") / "t.parquet"
    fixtures.write_transcripts_parquet(str(p), 2500, seed=11, n_parts=4)
    return str(p)


def _to_legacy(out: str) -> dict:
    """Turn a clean commit-log run into the marker layout it would have
    had: same data files, one marker per partition, _SUCCESS_RUN.
    Returns the run's table_meta."""
    committed, success, meta, _txns = make_ledger(out).snapshot()
    shutil.rmtree(os.path.join(out, "_commitlog"))
    write_legacy_markers_dir(
        out, {p: {k: m[k] for k in ("run_id", "part", "status",
                                    "n_rows", "files")}
              for p, m in committed.items()}, success)
    return meta


def _rows(df):
    return (df.orderBy("conv_id", "turn_idx").drop("part").toPandas())


def test_adopt_markers_reads_back_rows_and_memoizes(spark, small_input,
                                                    tmp_path):
    out = str(tmp_path / "legacy")
    run_checkpointed(spark, small_input, out)
    run_meta = _to_legacy(out)
    before = _rows(spark.read.parquet(os.path.join(out, "data")))

    r = adopt_markers(out)
    assert r["parts_adopted"] == [0, 1, 2, 3] and not r["parts_dropped"]
    assert r["run_success"]
    assert not os.path.exists(os.path.join(out, "_ledger"))
    assert not os.path.exists(os.path.join(out, "_SUCCESS_RUN"))
    led = make_ledger(out)
    assert led.latest_version() == r["version"] == 1  # ONE version

    assert _rows(read_committed(spark, out)).equals(before)
    assert run_checkpointed(spark, small_input, out)["memoized"]

    # the adopted schema types match what a checkpointed run records
    types = lambda m: {f["name"]: f["type"]  # noqa: E731
                       for f in m["schema"]["fields"]}
    assert types(led.table_meta()) == types(run_meta)


def test_adopt_markers_drops_invalid_partition(spark, small_input,
                                               tmp_path):
    """A partition whose files no longer match its marker is left out
    of the adopted version (and the run-success marker with it), so the
    next run recomputes exactly that partition."""
    import glob

    out = str(tmp_path / "legacy_bad")
    run_checkpointed(spark, small_input, out)
    clean = _rows(read_committed(spark, out))
    _to_legacy(out)
    os.remove(sorted(glob.glob(os.path.join(out, "data", "part=2",
                                            "*.parquet")))[0])
    r = adopt_markers(out)
    assert r["parts_dropped"] == [2] and not r["run_success"]
    s = run_checkpointed(spark, small_input, out)
    assert not s["memoized"] and s["parts_committed"] == 1
    assert _rows(read_committed(spark, out)).equals(clean)


def test_adopt_markers_crash_before_cleanup_readopts(legacy_markers_table,
                                                     monkeypatch, tmp_path):
    """A crash after the adoption version lands but before _ledger/ and
    _SUCCESS_RUN are removed leaves a table the commit log governs; a
    rerun publishes nothing new and only finishes the cleanup."""
    out = legacy_markers_table
    real_rmtree = shutil.rmtree

    def crash(*a, **k):
        raise OSError("crash before cleanup")

    monkeypatch.setattr(shutil, "rmtree", crash)
    with pytest.raises(OSError, match="crash before cleanup"):
        adopt_markers(out)
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)

    led = make_ledger(out)  # governed by the log: no refusal
    assert os.path.isdir(os.path.join(out, "_ledger"))
    v = led.latest_version()
    state = led.snapshot()
    assert set(state[0]) == {0} and state[1] == {"run_id": "r",
                                                 "n_parts": 1}

    r = adopt_markers(out)
    assert r["version"] == v and r["parts_adopted"] == []
    assert make_ledger(out).latest_version() == v
    assert make_ledger(out).snapshot()[:2] == state[:2]
    assert not os.path.exists(os.path.join(out, "_ledger"))
    assert not os.path.exists(os.path.join(out, "_SUCCESS_RUN"))
    with pytest.raises(ValueError, match="no marker ledger"):
        adopt_markers(str(tmp_path / "never-written"))

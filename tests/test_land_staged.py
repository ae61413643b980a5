"""The copy-on-write core's landing step (checkpoint._land_staged): every
commit-log writer moves its staged Spark output into data/part=K through
it. Driven with hand-written parquet files — no Spark, no table."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from curator_spark.checkpoint import _land_staged, file_column_stats


def _write(path: str, conv_ids: list[str], col: str = "conv_id") -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({col: pa.array(conv_ids, pa.string()),
                             "turn_idx": pa.array(range(len(conv_ids)),
                                                  pa.int64())}), path)


def _check_manifest(out: str, part: int, man: dict, stats: dict,
                    verb: str) -> None:
    for name, m in man.items():
        assert name.startswith(f"{verb}-")
        fp = os.path.join(out, "data", f"part={part}", name)
        assert m == {"n_rows": pq.ParquetFile(fp).metadata.num_rows,
                     "n_bytes": os.path.getsize(fp)}
        assert stats[name] == file_column_stats(fp)


def test_flat_staging_lands_one_part_and_skips_empty_files(tmp_path):
    out = str(tmp_path / "t")
    staging = str(tmp_path / "t" / "_compact-x")
    _write(os.path.join(staging, "a.parquet"), ["c1", "c2", "c3"])
    _write(os.path.join(staging, "b.parquet"), ["c4"])
    _write(os.path.join(staging, "empty.parquet"), [])
    open(os.path.join(staging, "_SUCCESS"), "w").close()

    landed = _land_staged(out, staging, {}, "compact", part=2)
    assert list(landed) == [2]
    man, stats, n_rows = landed[2]
    assert n_rows == 4 and len(man) == 2   # the zero-row file is skipped
    assert sorted(m["n_rows"] for m in man.values()) == [1, 3]
    _check_manifest(out, 2, man, stats, "compact")
    assert sorted(os.listdir(os.path.join(out, "data", "part=2"))) \
        == sorted(man)
    assert not os.path.exists(staging)


def test_partitioned_staging_lands_each_part(tmp_path):
    out = str(tmp_path / "t")
    staging = str(tmp_path / "t" / "_compact-y")
    _write(os.path.join(staging, "part=0", "f0.parquet"), ["a", "b"])
    _write(os.path.join(staging, "part=3", "f1.parquet"), ["c"])
    _write(os.path.join(staging, "part=3", "f2.parquet"), ["d", "e"])
    _write(os.path.join(staging, "part=5", "f3.parquet"), [])

    landed = _land_staged(out, staging, {}, "rebucket")
    assert sorted(landed) == [0, 3]       # part 5 held only empty files
    assert [landed[p][2] for p in (0, 3)] == [2, 3]
    for p in (0, 3):
        _check_manifest(out, p, landed[p][0], landed[p][1], "rebucket")
    assert not os.path.exists(os.path.join(out, "data", "part=5"))


def test_stats_keyed_by_physical_names_on_mapped_table(tmp_path):
    out = str(tmp_path / "t")
    staging = str(tmp_path / "t" / "_compact-z")
    # files hold PHYSICAL names: conv_id was renamed at some point and
    # its values live under the immutable physical column `cid_9f`
    _write(os.path.join(staging, "a.parquet"), ["x", "y"], col="cid_9f")
    meta = {"column_mapping": {"conv_id": "cid_9f"}}

    (man, stats, _n), = _land_staged(out, staging, meta, "update",
                                     part=0).values()
    [name] = man
    assert stats[name]["cid_9f"] == {"min": "x", "max": "y", "nulls": 0}
    assert "conv_id" not in stats[name]


def test_two_calls_never_share_a_name(tmp_path):
    out = str(tmp_path / "t")
    names = []
    for i in range(2):
        staging = str(tmp_path / "t" / f"_compact-{i}")
        # Spark reuses the same task file names across jobs
        _write(os.path.join(staging, "part-00000.parquet"), ["a"])
        (man, _s, _n), = _land_staged(out, staging, {}, "merge",
                                      part=1).values()
        names += list(man)
    assert len(set(names)) == 2
    assert sorted(os.listdir(os.path.join(out, "data", "part=1"))) \
        == sorted(names)


def test_each_staged_footer_is_opened_once(tmp_path, monkeypatch):
    """One ParquetFile per staged file, zero-row files included: rows,
    bytes and column stats all come from the one footer read (on an
    object store each open is a GET)."""
    out = str(tmp_path / "t")
    staging = str(tmp_path / "t" / "_compact-o")
    staged = [os.path.join(staging, f) for f in
              ("a.parquet", "b.parquet", "empty.parquet")]
    for path, ids in zip(staged, (["c1", "c2"], ["c3"], [])):
        _write(path, ids)
    opened = []
    real = pq.ParquetFile

    class CountingParquetFile(real):
        def __init__(self, source, *a, **k):
            opened.append(str(source))
            super().__init__(source, *a, **k)

    monkeypatch.setattr(pq, "ParquetFile", CountingParquetFile)
    (man, stats, n_rows), = _land_staged(out, staging, {}, "append",
                                         part=0).values()
    monkeypatch.undo()
    assert sorted(opened) == sorted(staged)
    assert n_rows == 3 and len(man) == 2
    _check_manifest(out, 0, man, stats, "append")

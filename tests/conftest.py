"""Shared pytest fixtures: one local SparkSession + deterministic
transcripts fixtures (FIXTURES.md §1), mirroring the reference's
conftest-provided parquet fixtures (reference: tests/conftest.py:51-64).
"""

from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from curator_spark import fixtures  # noqa: E402
from curator_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("curator-spark-tests", parallelism=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts_pdf():
    """~5k-turn deterministic transcripts frame (seed=42)."""
    return fixtures.generate_transcripts(5000, seed=42, n_parts=8)


@pytest.fixture(scope="session")
def transcripts_path(tmp_path_factory, transcripts_pdf):
    p = tmp_path_factory.mktemp("fixture") / "transcripts.parquet"
    fixtures.to_spark_parquet(transcripts_pdf, str(p))
    return str(p)


def copy_table(src: str, dst) -> str:
    """A private, writable copy of the table at `src`, so a fixture can
    build a table once per module with Spark and still hand every test
    a table of its own. Files get fresh mtimes, as if just written."""
    import shutil
    shutil.copytree(src, str(dst), copy_function=shutil.copy)
    return str(dst)


@contextlib.contextmanager
def multi_file_parts(spark):
    """Run the block with tiny parquet row groups and input splits and a
    tiny AQE advisory partition size, so the re-read scored stage is
    scanned by many tasks, each part's rows span several of them, and
    the staged write's rebalance splits every part across several files
    (a fresh small run otherwise lands one file per part). For tests
    whose premise is a part with more than one file; restores the
    settings."""
    conf = {"parquet.block.size": "8192",
            "spark.sql.files.maxPartitionBytes": "16k",
            "spark.sql.files.openCostInBytes": "1k",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k"}
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def part_file_counts(out_dir: str) -> dict[int, int]:
    """{part: number of live files} in the committed snapshot."""
    from curator_spark.checkpoint import make_ledger
    return {int(p): len((m or {}).get("files") or {})
            for p, m in make_ledger(out_dir).committed().items()}


def write_legacy_markers_dir(out_dir: str, committed: dict,
                             success: dict | None) -> None:
    """Lay down the retired per-partition marker ledger over the data
    files already in `out_dir/data`: one _ledger/part-K.json marker per
    entry of `committed` ({part: marker}) plus _SUCCESS_RUN."""
    import json
    ledger = os.path.join(out_dir, "_ledger")
    os.makedirs(ledger, exist_ok=True)
    for part, marker in committed.items():
        with open(os.path.join(ledger, f"part-{int(part)}.json"), "w") as f:
            json.dump(marker, f)
    if success is not None:
        with open(os.path.join(out_dir, "_SUCCESS_RUN"), "w") as f:
            json.dump(success, f)


@pytest.fixture
def legacy_markers_table(tmp_path):
    """A tiny hand-written legacy marker-layout table (no commit log):
    one partition, one file, committed and run-complete."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    out = str(tmp_path / "legacy")
    d = os.path.join(out, "data", "part=0")
    os.makedirs(d)
    fp = os.path.join(d, "part-00000.parquet")
    pq.write_table(pa.table({"conv_id": ["c0", "c1"], "turn_idx": [0, 0]}),
                   fp)
    files = {"part-00000.parquet": {
        "n_rows": 2, "n_bytes": os.path.getsize(fp)}}
    write_legacy_markers_dir(
        out, {0: {"run_id": "r", "part": 0, "status": "COMMITTED",
                  "n_rows": 2, "files": files}},
        {"run_id": "r", "n_parts": 1})
    return out

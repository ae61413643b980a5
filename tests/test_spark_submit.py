"""Ship-shape gate: the north_rule's `spark-submit --py-files` path,
exercised for real — the package is zipped, copied OUT of the repo, and
submitted from a directory where `import curator_spark` can only
succeed via the shipped zip. The job is the checkpointed runner, so the
full output layout (data/ + ledger + metrics + lineage) must appear."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str | None:
    cand = shutil.which("spark-submit")
    if cand:
        return cand
    try:
        import pyspark
        p = os.path.join(os.path.dirname(pyspark.__file__), "bin",
                         "spark-submit")
        return p if os.path.exists(p) else None
    except ImportError:
        return None


@pytest.mark.skipif(_spark_submit() is None, reason="no spark-submit binary")
def test_spark_submit_py_files_runs_checkpointed_job(tmp_path):
    from curator_spark import fixtures

    # package zip, exactly as the CLI docstring ships it
    pkg_zip = str(tmp_path / "curator_spark.zip")
    src_root = os.path.join(REPO, "curator_spark")
    with zipfile.ZipFile(pkg_zip, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(src_root):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py") or fn.endswith(".parquet"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, REPO))

    # driver script copied out of the repo: imports resolve via the zip
    driver = str(tmp_path / "cli.py")
    shutil.copy(os.path.join(src_root, "cli.py"), driver)

    inp = str(tmp_path / "t.parquet")
    fixtures.write_transcripts_parquet(inp, 800, seed=21, n_parts=2)
    out = str(tmp_path / "out")

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    r = subprocess.run(
        [_spark_submit(), "--master", "local[2]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--py-files", pkg_zip, driver,
         "--input", inp, "--output", out],
        cwd=str(tmp_path), env=env, text=True,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=420)
    assert r.returncode == 0, r.stderr[-3000:]

    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["parts_committed"] == 2 and not summary["memoized"]
    # the full durable layout landed
    for d in ("data", "_commitlog", "_metrics", "_meta"):
        assert os.path.isdir(os.path.join(out, d)), d
    from curator_spark.checkpoint import make_ledger
    assert make_ledger(out, "commitlog").run_success() is not None

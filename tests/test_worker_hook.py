"""The Python-worker zip-directory hook (curator_spark.worker_hook).

On Python < 3.12 every `importlib.invalidate_caches()` — which PySpark
calls at the start of each task — makes every zipimporter re-read its
archive's central directory. The hook must skip those re-reads while
the archive is unchanged, still pick up a rewritten archive, and stay
inert outside a PySpark worker.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="Python >= 3.12 re-reads zip directories lazily (gh-103200)")

# Runs in a fresh interpreter: builds a zip package with several
# subpackages (one zipimporter each), imports it, then counts
# zipimport._read_directory calls across invalidate_caches() rounds.
_PROBE = textwrap.dedent("""
    import importlib, json, os, sys, zipfile, zipimport
    work = sys.argv[1]
    archive = os.path.join(work, "zpkg.zip")

    def build(extra=None):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zpkg/__init__.py", "")
            for sub in ("a", "b", "c"):
                z.writestr(f"zpkg/{sub}/__init__.py", "")
                z.writestr(f"zpkg/{sub}/mod.py", f"NAME = {sub!r}")
            if extra:
                z.writestr("zpkg/a/extra.py", "NAME = 'extra'")

    build()
    sys.path.insert(0, archive)
    import zpkg.a.mod, zpkg.b.mod, zpkg.c.mod  # noqa: E401,F401
    from curator_spark import worker_hook

    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    zipimport._read_directory = counting
    importers = sum(getattr(f, "archive", None) == archive
                    for f in sys.path_importer_cache.values())
    importlib.invalidate_caches()          # first round: no record yet
    first = len(reads)
    for _ in range(3):
        importlib.invalidate_caches()
    repeated = len(reads) - first

    build(extra=True)                      # rewritten: new size + mtime
    importlib.invalidate_caches()
    import zpkg.a.extra
    print(json.dumps({
        "installed": worker_hook.installed(), "importers": importers,
        "first": first, "repeated": repeated,
        "after_rewrite": len(reads) - first - repeated,
        "extra": zpkg.a.extra.NAME}))
""")


def _probe(tmp_path, worker: bool) -> dict:
    env = {k: v for k, v in os.environ.items()
           if k != "PYTHON_WORKER_FACTORY_SECRET"}
    if worker:
        env["PYTHON_WORKER_FACTORY_SECRET"] = "test"
    env["PYTHONPATH"] = REPO
    out = subprocess.run([sys.executable, "-c", _PROBE, str(tmp_path)],
                         env=env, capture_output=True, text=True,
                         timeout=300, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_hook_skips_rereads_of_an_unchanged_zip(tmp_path):
    got = _probe(tmp_path, worker=True)
    assert got["installed"]
    assert got["importers"] >= 4          # the archive, zpkg, a, b, c
    assert got["first"] <= 1              # one read shared by all importers
    assert got["repeated"] == 0
    # a rewritten archive is read again, and its new module imports
    assert got["after_rewrite"] >= 1
    assert got["extra"] == "extra"


def test_hook_inert_outside_a_worker(tmp_path):
    got = _probe(tmp_path, worker=False)
    assert not got["installed"]
    # stock behaviour: every importer re-reads on every round
    assert got["repeated"] == 3 * got["importers"]
    assert got["extra"] == "extra"


def test_hook_installed_in_a_spark_worker(spark):
    from pyspark.sql import functions as F

    def hook_installed(_):
        from curator_spark import worker_hook
        return worker_hook.installed()

    rows = (spark.range(0, 8, numPartitions=4)
            .select(F.udf(hook_installed, "boolean")("id").alias("on"))
            .collect())
    assert rows and all(r.on for r in rows)

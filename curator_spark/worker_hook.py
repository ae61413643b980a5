"""Per-process fix for a fixed cost every PySpark Python task pays on
Python < 3.12.

`pyspark.worker_util.setup_spark_files` calls
`importlib.invalidate_caches()` at the start of every task. On Python
3.11 that makes every `zipimporter` re-read its archive's central
directory — `pyspark.zip` alone has ~1,300 entries, and a worker holds
one importer per imported package directory of it — on every task,
whether or not the archive changed. CPython 3.12 made the re-read lazy
(gh-103200).

`install()` replaces `zipimporter.invalidate_caches` with a version
that skips the re-read while the archive's (st_ino, st_size,
st_mtime_ns) is unchanged since this process last read it. A changed
archive (e.g. one shipped again with `addPyFile`) is still re-read.
The hook is installed once per process, only inside a PySpark worker
(`PYTHON_WORKER_FACTORY_SECRET` set) and only on Python < 3.12; the
package imports this module, so every curator UDF and data-source task
benefits.
"""

from __future__ import annotations

import os
import sys
import zipimport

# the unhooked method, also when this module is imported a second time
_ORIGINAL = getattr(zipimport.zipimporter.invalidate_caches, "__wrapped__",
                    zipimport.zipimporter.invalidate_caches)
# archive path → (st_ino, st_size, st_mtime_ns) when this process last
# re-read its directory
_READ_STAT: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _invalidate_caches(self) -> None:
    key = _stat_key(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and cached is not None \
            and _READ_STAT.get(self.archive) == key:
        self._files = cached
        return
    _ORIGINAL(self)       # stat taken BEFORE the read: a later change
    if key is not None:   # still differs from the recorded key
        _READ_STAT[self.archive] = key


_invalidate_caches.__wrapped__ = _ORIGINAL


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches


def install() -> None:
    """Install the hook when this process is a PySpark worker on
    Python < 3.12."""
    if sys.version_info < (3, 12) \
            and "PYTHON_WORKER_FACTORY_SECRET" in os.environ:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches

"""Python worker daemon: ``pyspark.daemon`` with a stat-guarded zipimport cache.

Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on CPython 3.11 each
``zipimporter`` then re-parses its archive's whole central directory.
A reused worker holds one importer per package imported from
``pyspark.zip`` (1,328 entries) and the py4j zip, so the same two
directories were re-read 16 times per task: ~0.23 s of CPU per task on
CPython 3.11.7 on a 4-core x86-64 host (measurements in CHANGES.md).

``install`` makes a re-read conditional: the directory is re-read only
when the archive's ``(st_mtime_ns, st_size, st_ino)`` differs from the
stat taken just before it was last read, so a changed or replaced
archive (``addPyFile``, ``--py-files``) is still picked up.  Sessions
from ``session.get_session`` start their daemon here
(``spark.python.daemon.module``); forked workers inherit the guard.
"""

from __future__ import annotations

import os
import zipimport

_read_directory = zipimport._read_directory
_invalidate_caches = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int, int] | None] = {}  # archive -> stat before its last read


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _stamped_read_directory(archive: str):
    _read_at[archive] = _stat_key(archive)
    return _read_directory(archive)


def invalidate_caches(self) -> None:
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_at.get(self.archive) == key:
        self._files = files
    else:
        _invalidate_caches(self)


def install() -> None:
    zipimport._read_directory = _stamped_read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    from trip_data_pipeline_spark import pyworker  # the guard's home is the importable module

    pyworker.install()
    importlib.invalidate_caches()  # stamp archives read on import, once, before the workers fork
    daemon.manager()

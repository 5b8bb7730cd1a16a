"""Python worker daemon for engine sessions (``spark.python.daemon.module``).

It is pyspark's own daemon with one change: a zip archive on the worker's
``sys.path`` is re-read only when it changed on disk.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). On CPython 3.11 and 3.12
that makes every ``zipimport.zipimporter`` re-read its archive's central
directory at once, with no check that the file changed. A local worker has
about 16 such importers: one per package imported from ``pyspark.zip`` and
the py4j zip, and two for the Spark core jar (5,359 entries, 57 ms a read),
which Spark puts on the worker's path too. Measured on a 4-core box with
Python 3.11.7, that is 0.1-0.4 s of CPU before each task's UDF starts,
for every task of every ArrowEvalPython node and Python RDD.

CPython 3.13 defers the re-read until the archive is next used. Here an
importer keeps its directory while the archive's ``(st_mtime_ns,
st_size)`` is the one stamped at the last read; a rewritten archive is
re-read as before, so modules added to it import.

Spark starts this module as ``python -m spark_ij_spark.worker_daemon``, so
the package must be importable wherever the engine's UDFs run (it already
must be, for the UDFs to unpickle).
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (stamp before the last read, the directory dict it gave)
_read_at: dict[str, tuple[tuple[int, int], dict]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read this importer's archive only if it changed since its last read."""
    archive = self.archive
    try:
        st = os.stat(archive)
    except OSError:
        _read_at.pop(archive, None)
        _reread(self)  # gone or unreadable: zipimport drops its directory
        return
    # Stamp before reading: a write racing the read leaves a stale stamp,
    # which only causes one more read next time.
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(archive)
    seen = _read_at.get(archive)
    if seen is not None and seen[0] == stamp and seen[1] is files:
        self._files = files
        return
    _reread(self)
    files = zipimport._zip_directory_cache.get(archive)
    if files is None:
        _read_at.pop(archive, None)
    else:
        _read_at[archive] = (stamp, files)


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # Read every archive once here, so forked workers start with each
    # archive's directory and stamp.
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()

"""Python workers re-read a zip archive on ``sys.path`` only when it changed.

PySpark ends each task's set-up (``pyspark.worker_util.setup_spark_files``)
with ``importlib.invalidate_caches()``. Before CPython 3.13 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's central
directory, whether or not the archive changed. A stream worker holds 18 of
them (pyspark.zip, py4j and the Spark core jar), which cost ~280 ms per task
on a 4-core host, before any engine code runs. ``install`` swaps in
``invalidate_if_changed``, which keeps Python's contract (a rewritten
archive is re-read) at the price of one ``stat`` per importer.

The package ``__init__`` installs it in Python workers only: every engine
UDF imports the package when its function is unpickled, and a reused worker
keeps the wrapper for its later tasks. The driver is left as it is.
"""

from __future__ import annotations

import os
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only when
    its (mtime, size) stamp differs from the one seen at the last read, or
    cannot be taken. The stamp is taken before the read, so an archive
    rewritten during the read is read again next time."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _read_archive(self)
        self._archive_stamp = stamp


def install() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed

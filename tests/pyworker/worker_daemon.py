"""PySpark worker daemon for the test session: the stock ``pyspark.daemon``
with a lazy ``zipimporter.invalidate_caches``.

Every Python task calls ``importlib.invalidate_caches()`` while it sets up
its spark files (pyspark ``worker_util.setup_spark_files``). On Python
< 3.12 that makes every zipimporter re-read its whole archive directory.
Workers import pyspark from ``pyspark.zip`` (1,300+ entries, one importer
per imported sub-package), so each task spent about 0.3 s of CPU
re-reading it: with ``createDataFrame`` on local rows (a Python-worker
scan on every action) that was the largest single cost of the suite.

Here an importer re-reads its archive only when the archive's mtime or
size changed since that importer last read it, which keeps what the call
is for: picking up files that are new on disk. The daemon primes every
importer it holds before forking, so forked workers start with stamps.

``tests/conftest.py`` starts the session with
``spark.python.daemon.module=worker_daemon`` and this directory on the
executors' ``PYTHONPATH``; the module sits alone in its directory so that
nothing else from ``tests/`` becomes importable on executors.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches

# how many times this process let the stock method re-read an archive
stock_reads = 0


def _archive_stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    global stock_reads
    stamp = _archive_stamp(self.archive)
    if stamp is not None and getattr(self, "_read_stamp", None) == stamp:
        return
    _stock_invalidate(self)
    stock_reads += 1
    self._read_stamp = stamp


def install() -> None:
    """Patch ``zipimporter`` and prime every zip importer already cached."""
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    import pyspark.daemon  # imports pyspark.worker: its importers exist now

    install()
    pyspark.daemon.manager()

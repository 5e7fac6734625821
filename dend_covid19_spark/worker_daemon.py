"""Python worker daemon for local-mode sessions: stock ``pyspark.daemon``
minus the per-task re-read of every zip on the worker's path.

Each Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes
every ``zipimporter`` re-read its archive's central directory: one importer
per ``pyspark.zip`` package (1328 entries) plus the spark-core jar (5359),
0.1-0.2 s of CPU per task. Here an importer re-reads its archive only when
the archive's ``(st_size, st_mtime_ns)`` changed since that importer last
read it; an archive that is missing or unreadable falls through to the
stock method.

``session.get_spark`` points ``spark.python.daemon.module`` here for local
masters. Run as ``python -m dend_covid19_spark.worker_daemon pyspark.worker``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive's size and mtime match this importer's last read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    if stamp is not None and getattr(self, "_read_stamp", None) == stamp:
        return
    _stock_invalidate(self)
    self._read_stamp = stamp if self._files else None  # unreadable: stock again next time


def main() -> None:
    from pyspark import daemon  # reads sys.argv[1] (the worker module) on import

    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    # read each archive once here, so forked workers start with it stamped
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()

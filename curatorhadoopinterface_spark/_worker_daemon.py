"""Python worker daemon whose forked workers re-read only changed zips.

PySpark's per-task ``setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython 3.11 that makes every
``zipimporter`` cached for ``pyspark.zip`` re-read the archive's central
directory (26.7k entries, 16 importers): about 0.18 s per task before
the UDF body starts. ``session.get_spark`` runs this module as
``spark.python.daemon.module``. It makes ``invalidate_caches`` re-read
an archive only when its ``(st_mtime_ns, st_size)`` changed since that
importer last read it (``install``), then runs PySpark's own daemon.
Forked workers inherit the patch.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    stamp = _stamp(self.archive)
    if stamp is None or getattr(self, "_stamp", None) != stamp:
        _stock_invalidate(self)
        self._stamp = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` for this process and the
    workers it forks. The importers already cached read their archive
    while this process started, so they count as current."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            imp._stamp = _stamp(imp.archive)


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()

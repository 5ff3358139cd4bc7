"""PySpark worker daemon that does not re-read unchanged zip archives.

Every Python task starts with ``importlib.invalidate_caches()``. Before
CPython 3.13 that makes each ``zipimporter`` re-parse its archive's whole
central directory, so every task re-reads ``pyspark.zip`` (~27k entries)
once per importer: ~0.25 s of worker CPU per task, whatever its size.
This backports 3.13's lazy re-read: an archive is read again only when
its (inode, size, mtime) stamp changed since the importer last read it.
An unchanged file re-reads to the same table, so imports are unchanged.
``get_spark`` names this module as ``spark.python.daemon.module``; running
it imports the engine (and with it pandas and pyarrow) once, before the
daemon forks the workers.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None  # no archive to stamp: the stock method decides
    if stamp is None or getattr(self, "_fs_stamp", None) != stamp:
        _stock_invalidate(self)
    self._fs_stamp = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` where CPython re-reads
    eagerly (< 3.13); later versions keep the stock method."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    # patch through the package module, not ``__main__``, so the workers'
    # method is featurescreening_jl_spark.plans.pydaemon._invalidate_caches
    from featurescreening_jl_spark.plans import pydaemon

    pydaemon.install()
    from pyspark import daemon

    # stamp the importers the forked workers inherit, so even a worker's
    # first task re-reads nothing
    importlib.invalidate_caches()
    daemon.manager()

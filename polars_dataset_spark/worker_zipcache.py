"""Stat-checked zip-import cache for the library's Python workers.

Every Spark task runs ``pyspark.worker_util.setup_spark_files``, which ends
in ``importlib.invalidate_caches()``. On CPython 3.10 and 3.11 that calls
``zipimport.zipimporter.invalidate_caches`` on every zip importer in
``sys.path_importer_cache``, and each call re-reads the whole central
directory of its archive. A worker that ran a grouped-map pandas UDF holds
16 importers into ``pyspark.zip`` (one per package directory it imported
from), so every task parses the same unchanged 1,328-entry directory 16
times: 110–260 ms per task on a 4-core host, more than the per-trace
kernels of a regrid or Fourier task take. CPython 3.12 made that re-read
lazy (gh-103200).

:func:`install` replaces the method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size)`` differs from the one seen at its last
read; otherwise the importer is re-bound to the directory already in
``zipimport._zip_directory_cache`` (the one all importers of that archive
share). A rewritten archive is still re-read, so a zip shipped again under
the same name is picked up. It applies only inside a Python worker
(``PYTHON_WORKER_FACTORY_SECRET`` is set) on CPython 3.10–3.11, and is
installed when :mod:`polars_dataset_spark.kernels` is imported — which a
worker does when it unpickles a per-trace kernel closure. A worker's first
task therefore still pays the full invalidation; its later tasks do not.
"""

from __future__ import annotations

import os
import sys
import zipimport

__all__ = ["install"]

_original = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken just before its last re-read;
# one per process, like the zipimport._zip_directory_cache it guards
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _original(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def install() -> bool:
    """Install the guard in a CPython 3.10–3.11 Python worker; elsewhere do
    nothing. Returns whether the guard is in place. Idempotent."""
    if zipimport.zipimporter.invalidate_caches is _invalidate_if_changed:
        return True
    if (
        sys.implementation.name != "cpython"
        or not (3, 10) <= sys.version_info[:2] < (3, 12)
        or "PYTHON_WORKER_FACTORY_SECRET" not in os.environ
    ):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    return True

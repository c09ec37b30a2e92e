"""Stat-guarded ``zipimporter.invalidate_caches`` for PySpark Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``).  On CPython <= 3.12
that makes every cached ``zipimporter`` re-read its archive's central
directory at once; a worker that imported PySpark from ``pyspark.zip``
holds about 16 of them (one per package prefix), so each task re-read the
3.5 MB, 1,328-entry archive 16 times, about 0.14 s on an idle core.  On a
trickle of small micro-batches that was most of the Python hop's fixed cost.

The guard re-reads an archive only when its ``(st_mtime_ns, st_size)``
differs from the stamp taken before the last re-read of that archive; an
importer of an unchanged archive adopts the directory that read produced.
A rewritten archive is therefore picked up exactly as before, and if the
archive cannot be stat'ed the stock re-read runs.  On Python >= 3.13 the
stock method only drops the cache entry, so the guard adds one stat.

It is installed when the package is imported inside a worker task (never
in the driver), which happens while the first task that uses an engine
function unpickles it.  That task has already paid its stock re-reads, and
the next one re-reads each archive once to learn its stamp; after that an
unchanged archive is not re-read again in that worker.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches

#: archive path -> (stamp before the last re-read, directory it produced);
#: process-wide, like zipimport's own ``_zip_directory_cache``.
_read_at: dict[str, tuple[tuple[int, int], dict]] = {}


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _stock_invalidate(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    seen = _read_at.get(self.archive)
    if seen is not None and seen[0] == stamp:
        self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _stock_invalidate(self)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None:
        _read_at[self.archive] = (stamp, files)


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` with the stat guard."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


def install_in_worker() -> None:
    """Install the guard iff this process is running a PySpark task."""
    from pyspark import TaskContext

    if TaskContext.get() is not None:
        install()

"""Python worker daemon for the engine's sessions.

PySpark runs ``importlib.invalidate_caches()`` at the start of every
Python task (``worker_util.setup_spark_files``). On CPython 3.11 each
``zipimporter`` then re-reads its archive's whole directory, and a
worker holds a dozen or more importers over ``pyspark.zip`` (~1.3k
entries): ~0.12 s of CPU per task, every task. This module wraps
``zipimporter.invalidate_caches`` so an archive whose
``(st_mtime_ns, st_size, st_ino)`` is unchanged since it was last read
keeps its directory; a changed, new or vanished archive is re-read as
before. Run as ``spark.python.daemon.module`` (``get_spark`` sets it),
it installs the wrapper and starts ``pyspark.daemon.manager()``;
forked workers inherit it.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
#: archive path -> (stat stamp taken before the read, directory read)
_read: dict[str, tuple] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    seen = _read.get(self.archive)
    if stamp is not None and seen is not None and seen[0] == stamp:
        self._files = seen[1]
        return
    _reread(self)
    _read[self.archive] = (stamp, self._files)


if __name__ == "__main__":
    import importlib

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # one read per archive, before the forks
    from pyspark.daemon import manager

    manager()

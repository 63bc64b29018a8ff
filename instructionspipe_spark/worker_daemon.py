"""PySpark's worker daemon, with zip-directory invalidation made lazy.

PySpark calls ``importlib.invalidate_caches()`` at the start of every Python
task so that pyFiles added since the last task can be imported. On CPython
below 3.12, ``zipimport.zipimporter.invalidate_caches`` re-reads its
archive's whole central directory in pure Python on every call, once per
zipimporter. A warmed worker holds one per imported subpackage of
``pyspark.zip`` plus two for the ``spark-core`` jar that Spark also puts on
the worker path: 16 re-reads, about 0.24 s of every task on 4 vCPUs, for a
one-row task whose own work takes milliseconds. CPython 3.12 made this
invalidation lazy; ``session.get_spark`` selects this daemon only below 3.12.

Invariant: an importer skips the re-read only when its archive's
``(st_mtime_ns, st_size)`` equals the stamp taken just before the last read
and that read's directory is still in ``zipimport._zip_directory_cache``; it
then rebinds to the cached directory, as a re-read would have. An archive
that is new, changed or gone goes through the stock method, so newly added
pyFiles still import. Everything else is ``pyspark.daemon.manager()``
itself; workers it forks inherit the patch.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips re-reading an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _stamps.get(self.archive) == stamp:
        self._files = cached
        return
    _stock_invalidate(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


if __name__ == "__main__":
    # Patch with the importable module's function, not __main__'s, so that
    # workers see the patch under this module's name.
    from instructionspipe_spark import worker_daemon
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = worker_daemon.invalidate_caches
    manager()

"""Python-worker daemon for local sessions: pyspark's own daemon with a
stat-keyed ``zipimporter.invalidate_caches``.

Spark starts every Python task with ``worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. On CPython 3.11 that
makes every ``zipimporter`` re-read its archive's whole central
directory. Workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (~1.3k entries) and py4j from
its own zip, and every imported subpackage has its own importer, so a
task parses ~27k directory entries before its kernel runs: 0.1 s of
CPU on an idle 4-vCPU host, 0.2-0.3 s with four workers at once.

:func:`install` replaces the method with one that re-reads an archive
only when the file's (inode, size, mtime_ns) differ from the last
read. Every other finder is still invalidated on every task, and a
changed or newly added zip is re-read as before. CPython 3.13 made
``zipimporter.invalidate_caches`` lazy (it only drops the cached
directory), so there :func:`install` changes nothing.

``session.get_spark`` selects this module through
``spark.python.daemon.module`` (``python -m`` runs it as ``__main__``).
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (inode, size, mtime_ns) of the file when its
# directory was last read
_stamps: dict[str, tuple[int, int, int]] = {}

# archive path -> central-directory reads done by invalidation in this
# process (forked workers inherit the daemon's count); a warm worker's
# count for an unchanged archive stays where the daemon left it
directory_reads: dict[str, int] = {}

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _invalidate_if_changed(self) -> None:
    archive = self.archive
    # stat BEFORE reading: a file replaced between the two reads is
    # recorded with its old stamp and so re-read at the next call
    stamp = _stamp(archive)
    cached = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and cached is not None and _stamps.get(archive) == stamp:
        self._files = cached
        return
    _stock_invalidate(self)
    directory_reads[archive] = directory_reads.get(archive, 0) + 1
    if stamp is None:
        _stamps.pop(archive, None)
    else:
        _stamps[archive] = stamp


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` (CPython < 3.13 only) and
    record a stamp for every archive already imported from. Returns
    whether the patch is active."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()
    return True


if __name__ == "__main__":
    # run under the module's real name so kernels that import it see
    # the same counters as the patch
    from bigdatafinalproject_spark import worker_daemon

    worker_daemon.install()
    from pyspark import daemon

    daemon.manager()

"""Spark Python worker daemon that makes per-task import-cache invalidation
cheap on CPython < 3.12.

Spark forks every Python worker from one daemon process and, before each
task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython 3.11,
``zipimport.zipimporter.invalidate_caches`` re-reads the whole zip
directory on every call, and a worker holds one zipimporter per package
directory it has imported from ``pyspark.zip`` (16 for a plain RDD task,
over the archive's 1,328 entries). On a 4-vCPU VM at ``local[4]``, a
reused worker spent a median 236-260 ms of CPU between two trivial tasks
with the stock daemon and 23-25 ms with this one, and an 8-task RDD map
job took 0.74 s against 0.23 s. CPython 3.12 made the re-read lazy
(gh-103200), so there the patch is not installed.

The patch re-reads an archive only when its ``(st_mtime_ns, st_size,
st_ino)`` changed since it was last read, so a replaced zip is still
picked up. ``session.get_spark`` selects this module through
``spark.python.daemon.module``; every forked worker inherits the patch.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_original_read_directory = zipimport._read_directory
_original_invalidate_caches = zipimport.zipimporter.invalidate_caches

# archive path -> stamp of the archive when its directory was last read
_read_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _read_directory(archive):
    """``zipimport._read_directory`` that records the archive's stamp.

    The stamp is taken before the read, so a change racing the read shows
    up as a stale stamp and costs one more read, never a missed one."""
    try:
        _read_stamps[archive] = _stamp(archive)
    except OSError:
        _read_stamps.pop(archive, None)
    return _original_read_directory(archive)


def invalidate_caches(self):
    """Reload the file data of the archive path if it changed since it
    was last read; otherwise share the directory already read."""
    try:
        unchanged = _stamp(self.archive) == _read_stamps.get(self.archive)
    except OSError:
        unchanged = False
    files = zipimport._zip_directory_cache.get(self.archive)
    if unchanged and files is not None:
        self._files = files
    else:
        _original_invalidate_caches(self)


def install() -> None:
    """Patch zipimport in this process (a no-op on Python >= 3.12)."""
    if sys.version_info >= (3, 12):
        return
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    install()
    # read each archive once here, so forked workers inherit its stamp
    # and their first task re-reads nothing either
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # `python -m` runs this file as __main__; call main() from the module
    # under its import name so the installed functions report it
    from go_dfs_mapreduce_spark.pydaemon import main as _main

    _main()

"""Python worker daemon that parses each zip archive's directory once.

Spark starts one daemon per executor (``python -m <daemon module>``) and
forks every Python worker from it. Before each task a worker runs
PySpark's ``setup_spark_files``, which ends in
``importlib.invalidate_caches()``. On CPython 3.11 every
``zipimporter.invalidate_caches`` re-parses its archive's whole central
directory, and a worker reaches ``pyspark.zip`` (about 1 300 entries)
through one zipimporter per package it imported from it, 14-18 of them: a
task with no input rows re-read about 24 000 directory entries of a file
that had not changed, 115-120 ms of one core per task on a 4-core box
(0.1 ms with this module).

This module wraps ``zipimport._read_directory`` so an archive's directory
is parsed again only when the archive's (size, mtime_ns, inode) differs
from the parse it has, then runs PySpark's own daemon. An archive that
``stat`` cannot read goes to the original parser, which raises
``ZipImportError`` as before. The daemon parses every archive on its path
into the memo before it forks a worker, and workers inherit the wrapper
and the parsed directories.

``session.get_spark`` names this module in ``spark.python.daemon.module``.
``spark.python.worker.module`` cannot carry the change: PySpark's daemon
imports a worker module only if its name starts with ``pyspark``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_read_directory_uncached = zipimport._read_directory
# archive path -> ((size, mtime_ns, inode), parsed directory)
_DIRECTORIES: dict = {}
# directories this process parsed since it started or was forked; a
# worker reads 0 while every archive it imports from is unchanged
parses = 0


def _reset_parses() -> None:
    global parses
    parses = 0


def _read_directory(archive):
    global parses
    try:
        st = os.stat(archive)
    except OSError:
        parses += 1
        return _read_directory_uncached(archive)
    version = (st.st_size, st.st_mtime_ns, st.st_ino)
    hit = _DIRECTORIES.get(archive)
    if hit is not None and hit[0] == version:
        return hit[1]
    parses += 1
    files = _read_directory_uncached(archive)
    _DIRECTORIES[archive] = (version, files)
    return files


def main() -> None:
    zipimport._read_directory = _read_directory
    os.register_at_fork(after_in_child=_reset_parses)
    from pyspark.daemon import manager

    # the archives found on the way to this module were parsed before the
    # memo existed; parse them into it once, here, instead of in the
    # first task of every forked worker
    importlib.invalidate_caches()
    manager()


if __name__ == "__main__":
    # run the copy importable as ``gmall_flink_yb_spark.pydaemon``, so a
    # worker that imports this module sees the memo its daemon installed
    from gmall_flink_yb_spark.pydaemon import main as _main

    _main()

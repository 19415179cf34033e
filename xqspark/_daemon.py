"""PySpark's worker daemon, minus the per-task import-cache flush.

Every Python task starts with ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. On Python 3.11 that
re-reads pyspark.zip's central directory once for every cached
zipimporter, so a reused worker pays it on every task although nothing
it can import has changed. ``setup_spark_files`` below wraps PySpark's
own: inside that one call ``importlib.invalidate_caches`` runs only when
``sys.path``, the SparkFiles root or that directory's mtime differ from
the previous call in this process. ``addPyFile`` of a zip adds a path;
of a ``.py``, a directory entry (a new mtime), so both still flush.
Every other caller of ``invalidate_caches`` gets the real function.

``pipeline.build_session`` sets this module as
``spark.python.daemon.module``. Run as ``__main__`` it installs the
wrapper, then runs ``pyspark.daemon`` as ``__main__``; that imports
``pyspark.worker`` (which binds ``setup_spark_files`` at import), and the
workers it forks inherit the wrapper.
"""

import importlib
import os
import sys

from pyspark import worker_util

_invalidate_caches = importlib.invalidate_caches
_setup_spark_files = worker_util.setup_spark_files
_last_key = None


def _files_key():
    from pyspark.core.files import SparkFiles

    root = SparkFiles._root_directory
    try:
        mtime = os.stat(root).st_mtime_ns
    except OSError:
        mtime = None
    return tuple(sys.path), root, mtime


def _invalidate_if_changed() -> None:
    global _last_key
    key = _files_key()
    if key != _last_key:
        _invalidate_caches()
        _last_key = key


def setup_spark_files(infile) -> None:
    outside = importlib.invalidate_caches
    importlib.invalidate_caches = _invalidate_if_changed
    try:
        _setup_spark_files(infile)
    finally:
        importlib.invalidate_caches = outside


if __name__ == "__main__":
    import runpy

    # the wrapper from the importable module, not from this __main__
    # copy: a task that imports xqspark._daemon then sees the same gate
    from xqspark._daemon import setup_spark_files as _wrapper

    worker_util.setup_spark_files = _wrapper
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)

"""Spark's Python-worker daemon, without the per-task zip re-read.

``get_session`` names this module in ``spark.python.daemon.module``,
so the JVM starts it (``python -m``) in place of ``pyspark.daemon``.
It runs pyspark's own daemon (``pyspark.daemon.manager``) unchanged,
after one patch that every worker it forks inherits.

Why: before each task, pyspark 4.1's worker calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``),
so that a zip added with ``addPyFile`` is seen. On Python 3.11 and
3.12 that makes every ``zipimporter`` re-read its archive's directory
at once. A worker holds 16 importers over ``pyspark.zip`` (1,328
entries), and a cProfile of one worker task put 0.332 s of its 0.385 s
there. A one-row, one-task ``pandas_udf`` query took 155 ms with that
re-read and 104 ms without it (4 vCPU); the JVM-only equivalent takes
36-40 ms.

The patch: ``zipimporter.invalidate_caches`` re-reads an archive only
when it changed on disk since its last read, that is, when ``os.stat``
gives a different ``(st_ino, st_size, st_mtime_ns)`` from the one taken
just before that read, or when the archive has no entry in
``zipimport._zip_directory_cache``. Otherwise the importer takes the
cached directory that every importer of that archive shares. A zip
that ``addPyFile`` replaces is still re-read, and new ``sys.path``
entries still get fresh importers. Python 3.13 already makes the call
lazy (it only drops the cache entry); the patch is correct there too.
"""

from __future__ import annotations

import importlib
import os
import zipimport

# The stdlib method, kept to re-read an archive that did change.
_REREAD = zipimport.zipimporter.invalidate_caches

# archive path -> (st_ino, st_size, st_mtime_ns), taken before its
# last read. A stamp taken before the read errs towards re-reading: a
# write that lands between the stat and the read changes the stamp.
_read_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def invalidate_caches(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    archive = importer.archive
    stamp = _stamp(archive)
    cached = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and cached is not None and (
        _read_stamps.get(archive) == stamp
    ):
        # 3.11/3.12 importers hold their own reference to the directory;
        # another importer of this archive may have re-read it since.
        if hasattr(importer, "_files"):
            importer._files = cached
        return
    _REREAD(importer)
    if stamp is None:
        _read_stamps.pop(archive, None)
    else:
        _read_stamps[archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process, and read
    each archive once so that forked workers start with it stamped."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()

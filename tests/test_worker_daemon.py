"""The engine's Python-worker daemon (``worker_daemon.py``): workers do
not re-read an unchanged zip archive's directory on every task, and
still pick up an archive that changed."""

from __future__ import annotations

import importlib.util
import zipfile
import zipimport

import pandas as pd
from pyspark.sql.functions import pandas_udf

from big_data_computing__spark import worker_daemon


def test_worker_task_does_not_reread_unchanged_archives(spark):
    """Inside a worker, one more ``importlib.invalidate_caches()`` (the
    call pyspark makes before every task) reads no zip directory. With
    pyspark's own daemon it reads one per zipimporter (16 of them over
    ``pyspark.zip``)."""

    @pandas_udf("long")
    def directory_reads(x: pd.Series) -> pd.Series:
        import importlib
        import zipimport

        reads = [0]
        read_directory = zipimport._read_directory

        def counted(archive):
            reads[0] += 1
            return read_directory(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        return pd.Series([reads[0]] * len(x))

    rows = spark.sql("SELECT 1 AS x").select(directory_reads("x")).collect()
    assert [r[0] for r in rows] == [0]


def test_invalidate_skips_unchanged_archive_and_rereads_changed(
    tmp_path, monkeypatch
):
    """On importers of a temp zip: no read while the archive is
    unchanged; after a rewrite that adds a module, one invalidation
    makes it importable through every importer of the archive."""
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("first.py", "VALUE = 1\n")
    importers = [zipimport.zipimporter(archive) for _ in range(2)]
    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    try:
        worker_daemon.invalidate_caches(importers[0])  # stamps the archive
        stamped = len(reads)
        for _ in range(3):
            for importer in importers:
                worker_daemon.invalidate_caches(importer)
        assert len(reads) == stamped
        assert importers[1].find_spec("second") is None

        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr("first.py", "VALUE = 1\n")
            zf.writestr("second.py", "VALUE = 2\n")
        worker_daemon.invalidate_caches(importers[0])
        assert importers[0].find_spec("second") is not None
        worker_daemon.invalidate_caches(importers[1])
        assert importers[1].find_spec("second") is not None
    finally:
        zipimport._zip_directory_cache.pop(archive, None)
        worker_daemon._read_stamps.pop(archive, None)


def test_session_daemon_module_exists(spark):
    """The daemon module the session names is importable from the
    package, so a rename cannot break every Python task at once."""
    conf = spark.sparkContext.getConf()
    module = conf.get("spark.python.daemon.module")
    assert module == worker_daemon.__name__
    assert importlib.util.find_spec(module).origin == worker_daemon.__file__
    assert conf.get("spark.executorEnv.PYTHONSAFEPATH") == "1"

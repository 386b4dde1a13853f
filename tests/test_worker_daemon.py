"""The Python worker daemon's archive-directory cache.

Each Python task calls ``importlib.invalidate_caches()``; pyspark's own
daemon then re-reads every zip archive on the import path (Spark's
``pyspark.zip`` among them). ``worker_daemon`` re-reads an archive only
when its size or modification time changed.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from mapreduce_big_data_processing_spark import worker_daemon


def test_python_tasks_run_under_the_engine_daemon(spark):
    """Workers fork from ``worker_daemon``, so the zipimporter method a
    task sees is the engine's wrapper, not the standard library's."""

    def where(batches):
        import zipimport

        import pandas as pd

        code = zipimport.zipimporter.invalidate_caches.__code__
        for pdf in batches:
            yield pd.DataFrame({"f": [code.co_filename] * len(pdf)})

    out = spark.range(4, numPartitions=2).mapInPandas(where, "f string")
    files = {r.f for r in out.collect()}
    assert len(files) == 1
    assert os.path.basename(files.pop()) == "worker_daemon.py"


def _write_zip(path, module: str, value: int) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", f"VALUE = {value}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    """An unchanged archive keeps its directory across invalidations; a
    rewritten one is re-read at the next, and its new module imports."""
    archive = tmp_path / "pkgs.zip"
    _write_zip(archive, "zd_first", 1)
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(worker_daemon, "_seen", {})
    # restored at teardown, after install() has replaced it
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon._reread
    )
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == str(archive):
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module("zd_first").VALUE == 1
        worker_daemon.install()
        before = len(reads)
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads[before:] == []

        # a different size is a change, whatever the clock's resolution
        _write_zip(archive, "zd_second", 22)
        importlib.invalidate_caches()
        assert reads[before:] == [str(archive)]
        assert importlib.import_module("zd_second").VALUE == 22
        importlib.invalidate_caches()
        assert reads[before:] == [str(archive)]
    finally:
        for name in ("zd_first", "zd_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)
        zipimport._zip_directory_cache.pop(str(archive), None)

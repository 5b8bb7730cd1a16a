"""The Python worker daemon re-reads a zip on the worker path only when
the archive changed (spark_ij_spark/worker_daemon.py)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spark_ij_spark import worker_daemon


@pytest.fixture
def count_reads(monkeypatch):
    """Count zipimport directory reads made while the fixture is active."""
    reads = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, count_reads):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_caches)
    monkeypatch.setattr(worker_daemon, "_read_at", {})
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, ["_wd_probe_a"])
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("_wd_probe_a").NAME == "_wd_probe_a"

        importlib.invalidate_caches()  # first call stamps the archive
        count_reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert count_reads == []

        # A rewritten archive is re-read, and its new module imports.
        _write_zip(archive, ["_wd_probe_a", "_wd_probe_b"])
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
        importlib.invalidate_caches()
        assert count_reads == [archive]
        assert importlib.import_module("_wd_probe_b").NAME == "_wd_probe_b"

        count_reads.clear()
        importlib.invalidate_caches()
        assert count_reads == []

        # A directory dropped from zipimport's shared cache is read again.
        del zipimport._zip_directory_cache[archive]
        importlib.invalidate_caches()
        assert count_reads == [archive]
        assert archive in zipimport._zip_directory_cache
    finally:
        for name in ("_wd_probe_a", "_wd_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_removed_archive_drops_its_directory(tmp_path, monkeypatch):
    monkeypatch.setattr(worker_daemon, "_read_at", {})
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, ["_wd_probe_gone"])
    importer = zipimport.zipimporter(archive)
    worker_daemon.invalidate_caches(importer)
    assert importer.find_spec("_wd_probe_gone") is not None
    os.remove(archive)
    worker_daemon.invalidate_caches(importer)
    assert importer.find_spec("_wd_probe_gone") is None
    assert archive not in zipimport._zip_directory_cache
    assert archive not in worker_daemon._read_at


def test_session_workers_run_the_engine_daemon(spark):
    """Every task of a pandas UDF sees zip importers on its path and no
    directory re-read across the per-task invalidate_caches() call."""

    @F.pandas_udf("reads long, zips long")
    def probe(ids: pd.Series) -> pd.DataFrame:
        import importlib
        import sys
        import zipimport

        read, n = zipimport._read_directory, []

        def counting(archive):
            n.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        return pd.DataFrame({"reads": [len(n)] * len(ids),
                             "zips": [zips] * len(ids)})

    rows = (spark.range(0, 8, 1, 4).select(probe("id").alias("p"))
            .select("p.*").collect())
    assert len(rows) == 8
    assert min(r["zips"] for r in rows) > 0
    assert max(r["reads"] for r in rows) == 0

"""The engine's Python worker daemon (``worker_daemon``): a zip importer
re-reads its archive's directory only when the archive changed since
that importer last read it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from incubator_pulsar_spark import worker_daemon


def _write_zip(archive: str, body: str) -> None:
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("wdpkg/__init__.py", "")
        z.writestr("wdpkg/sub/__init__.py", "")
        z.writestr("wdpkg/sub/mod.py", body)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, "VALUE = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_caches)
    monkeypatch.syspath_prepend(path)
    yield path
    for name in [m for m in sys.modules if m.split(".")[0] == "wdpkg"]:
        del sys.modules[name]
    for entry in [p for p in sys.path_importer_cache if p.startswith(path)]:
        del sys.path_importer_cache[entry]
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    reads = []
    read = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    mod = importlib.import_module("wdpkg.sub.mod")
    assert mod.VALUE == 1
    # one importer per package directory of the archive, sharing its
    # directory through zipimport's cache: one read at import
    importers = [sys.path_importer_cache[os.path.join(archive, *d)]
                 for d in ((), ("wdpkg",), ("wdpkg", "sub"))]
    assert all(isinstance(i, zipimport.zipimporter) for i in importers)
    assert len(reads) == 1

    importlib.invalidate_caches()  # each importer's first read
    assert len(reads) == 1 + len(importers)
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) == 1 + len(importers)

    body = "VALUE = 2  # a longer body, so a new archive size\n"
    _write_zip(archive, body)
    importlib.invalidate_caches()
    # every importer re-reads, not only the first to see the change
    assert len(reads) == 1 + 2 * len(importers)
    entry = os.path.join("wdpkg", "sub", "mod.py")
    assert all(i._files[entry][3] == len(body) for i in importers)
    del sys.modules["wdpkg.sub.mod"]
    assert importlib.import_module("wdpkg.sub.mod").VALUE == 2


def test_spark_workers_run_the_engine_daemon(spark):
    @F.pandas_udf("string")
    def reread_rule(ids: pd.Series) -> pd.Series:
        rule = zipimport.zipimporter.invalidate_caches
        return pd.Series([f"{rule.__module__} {rule.__code__.co_filename}"]
                         * len(ids))

    got = {r[0] for r in spark.range(4).select(reread_rule("id")).collect()}
    # Spark starts the daemon with ``python -m``, so it is ``__main__``
    assert got == {f"__main__ {worker_daemon.__file__}"}

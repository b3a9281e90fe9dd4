"""The Python-worker zipimport hook (``lucene_spark._worker``).

PySpark invalidates the import caches at the start of every task; on
CPython 3.10-3.12 each zipimporter then re-reads its archive's central
directory. The hook re-reads only archives whose (mtime, size) changed.
The pure-Python tests drive the hook on a temp zip and count
``zipimport._read_directory`` calls for that archive; the live test
checks that every worker has it and the driver does not.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from lucene_spark import _worker

ORIGINAL = zipimport.zipimporter.invalidate_caches


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_env(tmp_path, monkeypatch):
    """A zip on sys.path with module ``lsw_mod_a``, the hook applied to
    zipimporter, and a counter of directory reads of that zip."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"lsw_mod_a": "VALUE = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _worker._make_lazy(ORIGINAL)
    )
    monkeypatch.setattr(sys, "path", [archive] + sys.path)
    yield archive, reads
    for name in ("lsw_mod_a", "lsw_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zip_env):
    archive, reads = zip_env
    assert importlib.import_module("lsw_mod_a").VALUE == 1
    n = len(reads)  # the importer's own read when it was created
    importlib.invalidate_caches()  # no stamp yet: one more read
    assert len(reads) == n + 1
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) == n + 1


def test_rewritten_archive_is_reread(zip_env):
    archive, reads = zip_env
    importlib.import_module("lsw_mod_a")
    importlib.invalidate_caches()
    n = len(reads)
    _write_zip(archive, {"lsw_mod_a": "VALUE = 1\n", "lsw_mod_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    assert importlib.import_module("lsw_mod_b").VALUE == 2
    importlib.invalidate_caches()
    assert len(reads) == n + 1


def test_deleted_archive_runs_original(zip_env):
    archive, reads = zip_env
    importlib.import_module("lsw_mod_a")
    importlib.invalidate_caches()
    n = len(reads)
    os.remove(archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == n + 2  # the original re-read, every time
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_install_is_worker_only_and_idempotent(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", ORIGINAL)
    assert _worker.install() is False  # the driver: no TaskContext
    assert zipimport.zipimporter.invalidate_caches is ORIGINAL

    from pyspark import TaskContext

    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object()))
    if sys.version_info >= (3, 13):
        assert _worker.install() is False
        assert zipimport.zipimporter.invalidate_caches is ORIGINAL
        return
    assert _worker.install() is True
    hooked = zipimport.zipimporter.invalidate_caches
    assert hooked._lucene_spark_original is ORIGINAL
    assert _worker.install() is True
    assert zipimport.zipimporter.invalidate_caches is hooked

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", ORIGINAL)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    assert _worker.install() is False
    assert zipimport.zipimporter.invalidate_caches is ORIGINAL


def _hook_state(batches):
    import lucene_spark._worker as w

    for _ in batches:
        pass
    yield pd.DataFrame({"pid": [os.getpid()], "hook": [w.installed()]})


def test_hook_installed_in_every_worker_not_driver(spark):
    rows = (
        spark.range(0, 400, 1, numPartitions=4)
        .mapInPandas(_hook_state, "pid long, hook boolean")
        .collect()
    )
    assert len(rows) == 4
    assert all(r.hook for r in rows) == (sys.version_info < (3, 13))
    assert not _worker.installed()
    assert zipimport.zipimporter.invalidate_caches is ORIGINAL

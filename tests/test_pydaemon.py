"""``ds_mapreduce_spark.pydaemon``: a zip import is re-read only when it changed.

The first four tests need no Spark: they import a module from a zip under
``tmp_path`` and count central-directory reads through
``zipimport._read_directory``. The last one checks, through a live session,
that an ``addPyFile`` zip added after start-up still imports in the workers.
"""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from ds_mapreduce_spark import pydaemon

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ keeps the stock method"
)


def write_zip(archive, module: str, value: int) -> None:
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{module}.py", f"VALUE = {value}\n")


def bump_mtime(archive) -> None:
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))


@pytest.fixture
def zip_module(tmp_path, monkeypatch):
    """(archive, module name, counted directory reads) with the patch
    installed; the stock method and the imported module are restored."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    module = f"pydaemon_probe_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / "lib.zip"
    write_zip(archive, module, 1)
    monkeypatch.syspath_prepend(str(archive))
    pydaemon.install()
    assert importlib.import_module(module).VALUE == 1
    importlib.invalidate_caches()  # the first call reads: no stamp yet
    reads.clear()
    yield str(archive), module, reads
    sys.modules.pop(module, None)


def reimport(module: str):
    sys.modules.pop(module, None)
    return importlib.import_module(module)


@needs_patch
def test_unchanged_zip_is_not_reread(zip_module):
    archive, module, reads = zip_module
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads
    assert reimport(module).VALUE == 1


@needs_patch
def test_changed_zip_is_reread_once(zip_module):
    archive, module, reads = zip_module
    write_zip(archive, module, 2)
    bump_mtime(archive)
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert reimport(module).VALUE == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


@needs_patch
def test_deleted_zip_behaves_as_stock(zip_module):
    archive, module, reads = zip_module
    importer = sys.path_importer_cache[archive]
    os.remove(archive)
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache
    with pytest.raises(ModuleNotFoundError):
        reimport(module)
    write_zip(archive, module, 3)
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert reimport(module).VALUE == 3


def test_cpython_313_keeps_stock_method(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    pydaemon.install()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_add_py_file_after_start_imports_in_workers(spark, tmp_path):
    assert spark.conf.get("spark.python.daemon.module") == "ds_mapreduce_spark.pydaemon"
    module = f"pydaemon_added_{uuid.uuid4().hex[:8]}"

    def run(batches):
        import importlib

        value = importlib.import_module(module).VALUE
        for b in batches:
            yield b.assign(v=value)

    df = spark.range(8, numPartitions=4)
    # start the workers first, so the zip reaches already-running ones
    df.mapInPandas(lambda bs: bs, "id long").collect()
    archive = tmp_path / f"{module}.zip"
    write_zip(archive, module, 41)
    spark.sparkContext.addPyFile(str(archive))
    rows = df.mapInPandas(run, "id long, v long").collect()
    assert sorted((r.id, r.v) for r in rows) == [(i, 41) for i in range(8)]

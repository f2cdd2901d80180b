"""zipcache: a reused Python worker's per-task import-cache reset must not
re-read zip archives that did not change, and must behave like stock
CPython 3.11 when one did."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from gdal_scripts_spark import zipcache

STOCK = zipimport.zipimporter.__dict__["invalidate_caches"]


def _write_zip(path, pkg, extra=()):
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "X = 1\n")
        z.writestr(f"{pkg}/sub/__init__.py", "Y = 2\n")
        for name in extra:
            z.writestr(f"{pkg}/sub/{name}.py", f"NAME = {name!r}\n")
    tmp.replace(path)   # a new inode, as a redeployed archive would have


@pytest.fixture
def archive(tmp_path, monkeypatch, request):
    """A zip holding a package and a subpackage, imported from sys.path so
    the archive has >= 2 zipimporters; yields (path, pkg, importers, reads),
    where ``reads`` lists the archives ``_read_directory`` was called on."""
    pkg = "zc_" + request.node.name.replace("test_", "")
    path = tmp_path / "pkgs.zip"
    _write_zip(path, pkg)
    monkeypatch.syspath_prepend(str(path))
    monkeypatch.setattr(zipcache, "_stamps", {})
    importlib.import_module(f"{pkg}.sub")
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(p):
        reads.append(p)
        return stock_read(p)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importers = [f for f in sys.path_importer_cache.values()
                 if isinstance(f, zipimport.zipimporter) and f.archive == str(path)]
    assert len(importers) >= 2
    yield path, pkg, importers, reads
    zipimport.zipimporter.invalidate_caches = STOCK
    for k in [k for k in sys.path_importer_cache if k.startswith(str(path))]:
        del sys.path_importer_cache[k]
    zipimport._zip_directory_cache.pop(str(path), None)
    for m in [m for m in sys.modules if m == pkg or m.startswith(pkg + ".")]:
        del sys.modules[m]


def _reads_of(reads, path):
    return sum(p == str(path) for p in reads)


def test_unchanged_archive_is_not_reread(archive):
    path, _, importers, reads = archive
    zipcache.install()
    importlib.invalidate_caches()       # records the stamp: one read
    assert _reads_of(reads, path) == 1
    reads.clear()
    importlib.invalidate_caches()
    assert _reads_of(reads, path) == 0
    files = zipimport._zip_directory_cache[str(path)]
    assert all(imp._files is files for imp in importers)


def test_rewritten_archive_is_read_once_and_new_module_imports(archive):
    path, pkg, importers, reads = archive
    zipcache.install()
    importlib.invalidate_caches()
    _write_zip(path, pkg, extra=["fresh"])
    reads.clear()
    importlib.invalidate_caches()
    assert _reads_of(reads, path) == 1  # not one per importer
    assert importlib.import_module(f"{pkg}.sub.fresh").NAME == "fresh"


def test_deleted_archive_matches_stock(archive):
    path, _, importers, _ = archive
    zipcache.install()
    importlib.invalidate_caches()
    path.unlink()
    importlib.invalidate_caches()       # must not raise
    assert all(imp._files == {} for imp in importers)
    assert str(path) not in zipimport._zip_directory_cache
    assert str(path) not in zipcache._stamps


def test_install_is_idempotent(archive):
    path, _, _, reads = archive
    zipcache.install()
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is zipcache._invalidate_caches
    importlib.invalidate_caches()
    assert _reads_of(reads, path) == 1


def test_install_is_a_no_op_from_python_3_13(archive, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    zipcache.install()
    assert zipimport.zipimporter.__dict__["invalidate_caches"] is STOCK


def test_reused_worker_reads_no_archive_per_task(spark):
    """Two 8-task jobs; each task reports its worker's zipimporter count and
    how many archive reads one ``importlib.invalidate_caches()`` makes. Job
    one's tasks sleep so that it starts every worker job two reuses."""
    import pyarrow as pa

    def probe(batches):
        import os
        import time

        for _ in batches:
            pass
        time.sleep(0.5)
        n_importers = sum(isinstance(f, zipimport.zipimporter)
                          for f in sys.path_importer_cache.values())
        reads = []
        stock_read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or stock_read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        patched = zipimport.zipimporter.invalidate_caches is zipcache._invalidate_caches
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()], "importers": [n_importers],
            "reads": [len(reads)], "patched": [patched],
        })

    schema = "pid long, importers long, reads long, patched boolean"
    df = spark.range(0, 8, 1, 8).mapInArrow(probe, schema)
    first = df.collect()
    second = df.collect()
    print("zipimporters per worker:", sorted({r["importers"] for r in second}))
    assert [r["reads"] for r in second] == [0] * 8, (
        f"importers per task: {[r['importers'] for r in second]}; "
        f"job one pids {sorted(r['pid'] for r in first)}, "
        f"job two {sorted(r['pid'] for r in second)}")
    assert all(r["patched"] for r in first + second)
    # the driver's import system is left alone
    assert zipimport.zipimporter.__dict__["invalidate_caches"] is STOCK

"""Lazy zip-import cache invalidation (pdf2ocr_spark.worker_imports), no JVM.

A Spark Python worker calls ``importlib.invalidate_caches()`` before every
task. These tests put a temporary zip package on ``sys.path``, pose as a
worker, and check that the installed invalidation skips unchanged
archives but still re-reads a rewritten one.
"""

import importlib
import sys
import zipfile
import zipimport

import pytest

from pdf2ocr_spark import worker_imports

PKG = "wi_zip_pkg"

needs_eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport is already lazy"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{PKG}/__init__.py", "")
        z.writestr(f"{PKG}/sub/__init__.py", "VALUE = 1\n")
        for name in modules:
            z.writestr(f"{PKG}/{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def as_worker(monkeypatch):
    """Pose as a Spark Python worker; restore the eager zipimporter after."""
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        worker_imports._eager_invalidate_caches,
    )
    monkeypatch.setattr(worker_imports, "_read_stamps", {})


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A zip package, imported with a subpackage so that two zipimporters
    (archive root and ``wi_zip_pkg/``) share one archive."""
    archive = tmp_path / "pkg.zip"
    _write_zip(archive, ["old"])
    monkeypatch.syspath_prepend(str(archive))
    importlib.import_module(f"{PKG}.sub")
    yield archive
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(str(archive))]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(str(archive), None)


@pytest.fixture
def directory_reads(monkeypatch, zip_pkg):
    """Count zipimport's directory reads of the test archive."""
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        if archive == str(zip_pkg):
            reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@needs_eager_zipimport
def test_unchanged_archive_is_not_reread(as_worker, zip_pkg, directory_reads):
    importlib.invalidate_caches()
    assert len(directory_reads) == 2  # stock: once per zipimporter

    assert worker_imports.install_lazy_zip_invalidation()
    importlib.invalidate_caches()  # first lazy pass records the stamp
    assert len(directory_reads) == 3
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(directory_reads) == 3
    assert importlib.import_module(f"{PKG}.old").NAME == "old"


@needs_eager_zipimport
def test_rewritten_archive_is_reread(as_worker, zip_pkg, directory_reads):
    assert worker_imports.install_lazy_zip_invalidation()
    importlib.invalidate_caches()
    n = len(directory_reads)

    _write_zip(zip_pkg, ["old", "new"])
    importlib.invalidate_caches()
    assert len(directory_reads) == n + 1  # once for both zipimporters
    assert importlib.import_module(f"{PKG}.new").NAME == "new"


@needs_eager_zipimport
def test_second_install_is_noop(as_worker):
    assert worker_imports.install_lazy_zip_invalidation()
    patched = zipimport.zipimporter.invalidate_caches
    assert not worker_imports.install_lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is patched


def test_noop_outside_worker(monkeypatch):
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    before = zipimport.zipimporter.invalidate_caches
    assert not worker_imports.install_lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is before


def test_noop_on_python_313(as_worker, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    before = zipimport.zipimporter.invalidate_caches
    assert not worker_imports.install_lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is before

"""The package init makes zipimport's cache invalidation stat-keyed: an
unchanged archive is not re-parsed on every importlib.invalidate_caches()
(which PySpark's worker calls before each task), while a replaced or
deleted archive is still picked up. Spark-free."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import eynollah_spark

_PKG = "zcache_pkg"


def _write_zip(path, extra_module=False):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr(f"{_PKG}/__init__.py", "")
        z.writestr(f"{_PKG}/sub/__init__.py", "")
        z.writestr(f"{_PKG}/sub/mod.py", "VALUE = 1\n")
        if extra_module:
            z.writestr(f"{_PKG}/sub/extra.py", "VALUE = 2\n")
    os.replace(tmp, path)


@pytest.fixture
def zipped_pkg(tmp_path, request):
    path = str(tmp_path / "zcache.zip")
    _write_zip(path)
    sys.path.insert(0, path)

    def cleanup():
        sys.path.remove(path)
        for name in [m for m in sys.modules if m.split(".")[0] == _PKG]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(path, None)

    request.addfinalizer(cleanup)
    importlib.import_module(f"{_PKG}.sub.mod")
    return path


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13's zipimport reads the directory lazily")
def test_unchanged_archive_is_not_reparsed(zipped_pkg, monkeypatch):
    assert (zipimport.zipimporter.invalidate_caches.__module__
            == eynollah_spark.__name__)
    # the first call records the stat key of every cached archive
    importlib.invalidate_caches()
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(20):
        importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module(f"{_PKG}.sub.mod").VALUE == 1


def test_replaced_archive_is_picked_up(zipped_pkg):
    with pytest.raises(ImportError):
        importlib.import_module(f"{_PKG}.sub.extra")
    importlib.invalidate_caches()
    _write_zip(zipped_pkg, extra_module=True)
    importlib.invalidate_caches()
    assert importlib.import_module(f"{_PKG}.sub.extra").VALUE == 2


def test_deleted_archive_does_not_raise(zipped_pkg):
    importlib.invalidate_caches()
    os.remove(zipped_pkg)
    importlib.invalidate_caches()
    assert zipped_pkg not in zipimport._zip_directory_cache

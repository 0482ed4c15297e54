"""The package's checked zipimporter invalidation, without Spark.

Each test imports from a fresh zip on ``sys.path``, so the zipimporter
under test is the one the path hooks create, and invalidates it through
``importlib.invalidate_caches()`` -- the call PySpark's worker makes at
the start of every task.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import sz_spark

#: fixed entry timestamp: archives with equal names and bodies are then
#: byte-for-byte the same size
_DATE = (2020, 1, 1, 0, 0, 0)


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(zipfile.ZipInfo(f"{name}.py", _DATE), body)


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip archive path on ``sys.path``; the modules imported from it
    are dropped from ``sys.modules`` afterwards."""
    path = str(tmp_path / "shipped.zip")
    sys.path.insert(0, path)
    before = set(sys.modules)
    yield path
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    for name in set(sys.modules) - before:
        del sys.modules[name]


def _importer(path):
    imp = sys.path_importer_cache[path]
    assert isinstance(imp, zipimport.zipimporter)
    return imp


def test_checked_invalidation_is_installed():
    method = zipimport.zipimporter.invalidate_caches
    assert getattr(method, "_sz_checked", False)
    assert not getattr(method.__wrapped__, "_sz_checked", False)


def test_rewritten_zip_is_reread(zip_on_path):
    _write_zip(zip_on_path, {"szt_first": "X = 1\n"})
    assert importlib.import_module("szt_first").X == 1
    _write_zip(zip_on_path, {"szt_first": "X = 1\n", "szt_added": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("szt_added").Y == 2


def test_same_size_replacement_is_reread(zip_on_path, tmp_path):
    _write_zip(zip_on_path, {"szt_old": "X = 1\n"})
    assert importlib.import_module("szt_old").X == 1
    importlib.invalidate_caches()  # stamp the importer
    stamp = _importer(zip_on_path).__dict__[sz_spark._STAMP]

    fresh = str(tmp_path / "fresh.zip")
    _write_zip(fresh, {"szt_new": "X = 2\n"})
    assert os.path.getsize(fresh) == os.path.getsize(zip_on_path)
    os.replace(fresh, zip_on_path)
    importlib.invalidate_caches()

    assert _importer(zip_on_path).__dict__[sz_spark._STAMP] != stamp
    assert importlib.import_module("szt_new").X == 2
    del sys.modules["szt_old"]
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("szt_old")


def test_unchanged_zip_skips_the_reread(zip_on_path, monkeypatch):
    real = zipimport.zipimporter.invalidate_caches.__wrapped__
    reads = []

    def counting(self):
        reads.append(self.archive)
        return real(self)

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", counting)
    sz_spark._install_checked_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches.__wrapped__ is counting

    _write_zip(zip_on_path, {"szt_steady": "X = 1\n"})
    importlib.import_module("szt_steady")
    importlib.invalidate_caches()  # first call: no stamp yet
    assert reads.count(zip_on_path) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1

    _write_zip(zip_on_path, {"szt_steady": "X = 1\n", "szt_later": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 2
    assert importlib.import_module("szt_later").Y == 2


def test_missing_archive_calls_the_original(zip_on_path):
    _write_zip(zip_on_path, {"szt_vanish": "X = 1\n"})
    importlib.import_module("szt_vanish")
    importlib.invalidate_caches()
    imp = _importer(zip_on_path)
    assert sz_spark._STAMP in imp.__dict__

    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert sz_spark._STAMP not in imp.__dict__
    assert imp._files == {}


def test_reimport_and_reload_do_not_wrap_twice():
    installed = zipimport.zipimporter.invalidate_caches
    importlib.import_module("sz_spark")
    importlib.reload(sz_spark)
    importlib.reload(sz_spark)
    sz_spark._install_checked_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is installed
    assert not getattr(installed.__wrapped__, "_sz_checked", False)

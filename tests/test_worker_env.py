"""worker_env: stat-checked ``zipimporter.invalidate_caches`` (no Spark)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from byte_convert_avro_spark import worker_env

# before 3.13 the stdlib re-reads on every call, so install() patches it
patches = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="install() is a no-op on CPython 3.13+"
)


@pytest.fixture
def stdlib_method():
    """Restore the stdlib method after each test, whatever it patched."""
    original = zipimport.zipimporter.invalidate_caches
    yield original
    zipimport.zipimporter.invalidate_caches = original


@pytest.fixture
def read_counter(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@patches
def test_unchanged_archive_is_not_reread(stdlib_method, read_counter, tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"wenv_a": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    worker_env.install()
    read_counter.clear()
    importer.invalidate_caches()  # first call reads and stamps
    assert len(read_counter) == 1
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert len(read_counter) == 1


def test_rewritten_archive_is_reread(stdlib_method, tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"wenv_first": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    worker_env.install()
    try:
        assert importlib.import_module("wenv_first").X == 1
        importlib.invalidate_caches()  # stamps the importer over the first archive
        with pytest.raises(ImportError):
            importlib.import_module("wenv_second")
        _write_zip(archive, {"wenv_first": "X = 1\n", "wenv_second": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("wenv_second").Y == 2
    finally:
        sys.modules.pop("wenv_first", None)
        sys.modules.pop("wenv_second", None)
        sys.path_importer_cache.pop(str(archive), None)


@patches
def test_install_is_idempotent(stdlib_method, read_counter, tmp_path):
    worker_env.install()
    patched = zipimport.zipimporter.invalidate_caches
    worker_env.install()
    assert zipimport.zipimporter.invalidate_caches is patched
    assert patched is not stdlib_method
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"wenv_b": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    read_counter.clear()
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert len(read_counter) == 1


def test_install_is_a_noop_on_python_3_13(stdlib_method, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    worker_env.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib_method

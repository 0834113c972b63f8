"""pawpaw_spark._worker: zipimporters re-read an archive's directory only
when the archive changed. No Spark here; the worker-side check is in
test_triples_pr.py."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from pawpaw_spark import _worker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def original(monkeypatch):
    """The unwrapped method, restored after the test."""
    current = zipimport.zipimporter.invalidate_caches
    orig = getattr(current, "__wrapped__", current)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", orig)
    return orig


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding package ``zwpkg`` with module ``a``,
    imported so that the archive and its ``zwpkg`` prefix each have a
    zipimporter in ``sys.path_importer_cache``."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["a"])
    monkeypatch.syspath_prepend(path)
    importlib.import_module("zwpkg.a")
    yield path
    for name in [m for m in sys.modules if m == "zwpkg" or m.startswith("zwpkg.")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zwpkg/__init__.py", "")
        for m in modules:
            z.writestr(f"zwpkg/{m}.py", f"NAME = {m!r}\n")


def _count_reads(monkeypatch, path):
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        if archive == path:
            calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="install() is a no-op")
def test_install_twice_wraps_once(original):
    _worker.install()
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped is not original and wrapped.__wrapped__ is original
    _worker.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert _worker.installed()


def test_noop_from_python_313(original, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _worker.install()
    assert zipimport.zipimporter.invalidate_caches is original
    assert not _worker.installed()


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="install() is a no-op")
def test_unchanged_archive_is_not_reread(original, archive, monkeypatch):
    _worker.install()
    calls = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    # first sight of the archive: one read, shared by both prefixes
    assert len(calls) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(calls) == 1
    importers = [v for k, v in sys.path_importer_cache.items() if k.startswith(archive)]
    assert len(importers) == 2
    assert all(i._files is zipimport._zip_directory_cache[archive] for i in importers)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="install() is a no-op")
def test_rewritten_archive_is_reread(original, archive, monkeypatch):
    _worker.install()
    importlib.invalidate_caches()
    calls = _count_reads(monkeypatch, archive)
    _write_zip(archive, ["a", "b"])
    importlib.invalidate_caches()
    assert len(calls) == 1
    assert importlib.import_module("zwpkg.b").NAME == "b"


def test_import_outside_a_task_leaves_zipimport_alone():
    code = (
        "import zipimport; f = zipimport.zipimporter.invalidate_caches\n"
        "import pawpaw_spark, pawpaw_spark.operators.triples\n"
        "assert zipimport.zipimporter.invalidate_caches is f\n"
        "assert 'pawpaw_spark._worker' not in __import__('sys').modules\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True, timeout=120)

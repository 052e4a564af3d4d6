"""The zip import cache the package installs in every process that
imports it (``iotdatapipeline_spark.zipimport_cache``). No Spark: a
throwaway archive holding a package with a subpackage, so that three
zip importers share one archive the way PySpark's packages share
``pyspark.zip`` in a Python worker."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from iotdatapipeline_spark import zipimport_cache

wrapper_only = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 zipimport needs no wrapper"
)

FIRST = {"zc_pkg/__init__.py": "", "zc_pkg/sub/__init__.py": "", "zc_pkg/sub/a.py": "X = 1\n"}


def _write(archive: str, files: dict[str, str]) -> None:
    with zipfile.ZipFile(archive, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """``zc_pkg`` (with ``zc_pkg.sub.a``) imported from a zip on
    ``sys.path``; imports, importers and the directory cache of the
    archive are dropped afterwards."""
    path = str(tmp_path / "mods.zip")
    _write(path, FIRST)
    monkeypatch.syspath_prepend(path)
    importlib.import_module("zc_pkg.sub.a")
    yield path
    for name in [n for n in sys.modules if n == "zc_pkg" or n.startswith("zc_pkg.")]:
        del sys.modules[name]
    for entry in [e for e in sys.path_importer_cache if e.startswith(path)]:
        del sys.path_importer_cache[entry]
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture
def reads(archive, monkeypatch):
    """Count the central-directory reads of ``archive``."""
    seen = []
    read = zipimport._read_directory

    def counting(path):
        if path == archive:
            seen.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _importers(archive):
    return [
        imp
        for entry, imp in sys.path_importer_cache.items()
        if entry.startswith(archive) and isinstance(imp, zipimport.zipimporter)
    ]


@wrapper_only
def test_unchanged_archive_is_not_read_again(archive, reads):
    assert zipimport_cache.install()
    assert len(_importers(archive)) == 3  # the archive, zc_pkg, zc_pkg/sub
    importlib.invalidate_caches()  # a worker's first task
    assert len(reads) == 1  # once for all three importers (unwrapped: 3)
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 1


@wrapper_only
def test_rewritten_archive_is_read_by_every_importer(archive, reads):
    assert zipimport_cache.install()
    importlib.invalidate_caches()
    _write(archive, {**FIRST, "zc_pkg/b.py": "Y = 2\n", "zc_pkg/sub/c.py": "Z = 3\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert len(reads) == 2  # the rewrite is read once
    assert importlib.import_module("zc_pkg.b").Y == 2
    assert importlib.import_module("zc_pkg.sub.c").Z == 3
    assert all("zc_pkg/sub/c.py" in imp._files for imp in _importers(archive))


def test_install_is_idempotent():
    zipimport_cache.install()
    installed = zipimport.zipimporter.invalidate_caches
    zipimport_cache.install()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_no_wrapper_from_python_3_13(monkeypatch):
    current = zipimport.zipimporter.invalidate_caches
    plain = getattr(current, "__wrapped__", current)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", plain)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert zipimport_cache.install() is False
    assert zipimport.zipimporter.invalidate_caches is plain

"""Stat-checked zip importers of the worker daemon (swingstream.pydaemon).

No Spark: each test installs the importer into copies of this process's
import tables and imports a package from a temporary zip."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from swingstream import pydaemon


def _write_zip(path, modules: dict[str, str]) -> None:
    """(Re)write ``path`` in place as package ``zdpkg`` holding ``modules``."""
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zdpkg/__init__.py", "")
        for name, src in modules.items():
            z.writestr(f"zdpkg/{name}.py", src)


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A zip holding package ``zdpkg`` first on a copied ``sys.path``, and
    a counter of central-directory reads, armed after ``_install()``."""
    archive = tmp_path / "zdpkg.zip"
    _write_zip(archive, {"a": "A = 1\n"})
    monkeypatch.setattr(sys, "path", [str(archive)] + sys.path)
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    monkeypatch.setattr(pydaemon, "_read_stamps", {})
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in [m for m in sys.modules if m.split(".")[0] == "zdpkg"]:
        del sys.modules[name]


def _zip_finders(archive) -> list:
    return [f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
            and f.archive == str(archive)]


def test_unchanged_archive_is_not_reread(zip_pkg):
    archive, reads = zip_pkg
    importlib.import_module("zdpkg.a")   # stock importers: zip and zip/zdpkg
    pydaemon._install()
    finders = _zip_finders(archive)
    assert len(finders) == 2
    assert all(type(f) is pydaemon.StatCheckedZipImporter for f in finders)
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_imports_fresh(zip_pkg):
    archive, reads = zip_pkg
    importlib.import_module("zdpkg.a")
    pydaemon._install()
    _write_zip(archive, {"a": "A = 1\n", "b": "B = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    # one read, shared by both importers of the archive
    assert reads == [str(archive)]
    assert importlib.import_module("zdpkg.b").B == 2


def test_new_zip_path_imports_fresh(zip_pkg, tmp_path):
    """A zip put on sys.path after install (addPyFile) gets the subclass."""
    _, reads = zip_pkg
    pydaemon._install()
    extra = tmp_path / "extra.zip"
    with zipfile.ZipFile(extra, "w") as z:
        z.writestr("zdpkg_extra.py", "E = 3\n")
    sys.path.insert(0, str(extra))
    importlib.invalidate_caches()
    try:
        assert importlib.import_module("zdpkg_extra").E == 3
    finally:
        sys.modules.pop("zdpkg_extra", None)
    assert type(sys.path_importer_cache[str(extra)]) is \
        pydaemon.StatCheckedZipImporter
    assert str(extra) in reads

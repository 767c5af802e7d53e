"""Python worker import cost: ``drop_zip_finders`` stops
``importlib.invalidate_caches()`` from re-reading zip archives, and
modules of a dropped archive still import."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from ocr_spark.udfs import drop_zip_finders

PKG = "zipworker_pkg"


@pytest.fixture
def zipped_package(tmp_path, monkeypatch):
    """A zip holding ``PKG`` with a subpackage, first on ``sys.path``;
    ``sys.path``, ``sys.modules`` and the importer cache are restored
    afterwards."""
    archive = str(tmp_path / "pkg.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{PKG}/__init__.py", "")
        zf.writestr(f"{PKG}/sub/__init__.py", "")
        zf.writestr(f"{PKG}/sub/first.py", "VALUE = 1\n")
        zf.writestr(f"{PKG}/sub/second.py", "VALUE = 2\n")
    monkeypatch.setattr(sys, "path", [archive, *sys.path])
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    try:
        yield archive
    finally:
        for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[name]
        zipimport._zip_directory_cache.pop(archive, None)


def test_drop_zip_finders_stops_archive_rereads(zipped_package, monkeypatch):
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)

    first = importlib.import_module(f"{PKG}.sub.first")
    assert first.VALUE == 1
    finders = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == zipped_package
    ]
    assert len(finders) >= 2  # the archive root and each imported package

    reads.clear()
    importlib.invalidate_caches()
    # one full directory read per cached finder of the archive
    assert reads.count(zipped_package) == len(finders)

    drop_zip_finders()
    assert not any(
        isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
    )
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    # a module of the archive not imported yet still imports, and its
    # re-created finder reuses the cached directory instead of reading it
    second = importlib.import_module(f"{PKG}.sub.second")
    assert second.VALUE == 2
    assert isinstance(second.__spec__.loader, zipimport.zipimporter)
    assert reads == []

"""The stamp-checked zip directory cache (agr_loader_spark/zipcache.py):
an unchanged archive is not re-read by importlib.invalidate_caches(),
a rewritten one is, so what it newly holds imports."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from agr_loader_spark.zipcache import keep_zip_directory_cache


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding one imported module, with the helper
    installed for this test only."""
    # restores the stock method when the test ends
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    arc = tmp_path / "lib.zip"
    _write_zip(arc, {"zc_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(arc))
    assert importlib.import_module("zc_mod_a").X == 1
    keep_zip_directory_cache()
    importlib.invalidate_caches()  # first sweep reads and stamps
    yield arc
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(arc), None)


def _count_reads(monkeypatch, arc) -> list:
    reads = []
    real = zipimport._read_directory

    def counted(path):
        if path == str(arc):
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    reads = _count_reads(monkeypatch, archive)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("zc_mod_a").X == 1


def test_rewritten_archive_is_reread(archive, monkeypatch):
    reads = _count_reads(monkeypatch, archive)
    _write_zip(archive, {"zc_mod_a": "X = 1\n", "zc_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.import_module("zc_mod_b").Y == 2

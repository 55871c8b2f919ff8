"""`engine._drop_spark_zip_importers`, with no Spark session.

PySpark calls `importlib.invalidate_caches()` at the start of every
Python task, and each cached `zipimporter` then rereads its archive's
central directory. After the helper runs, no archive outside the
SparkFiles root is reread, modules of the same archive still import
(without a reread), and an importer under the SparkFiles root stays.
"""
import importlib
import sys
import zipfile
import zipimport

import pytest
from pyspark import SparkFiles

from areacity_query_geometry_spark.engine import _drop_spark_zip_importers

PKGS = ("aqgs_zt_spark", "aqgs_zt_user", "aqgs_zt_sibling")


def _zip_package(path, pkg):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "")
        z.writestr(f"{pkg}/one.py", "VALUE = 1\n")
        z.writestr(f"{pkg}/two.py", "VALUE = 2\n")
    return str(path)


def _zip_archives():
    return {imp.archive for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)}


@pytest.fixture
def archives(tmp_path, monkeypatch):
    """A stand-in Spark archive outside the SparkFiles root, a user
    archive under it, and one in a sibling directory whose name starts
    with the root's; each on sys.path with its `one` module imported."""
    root = tmp_path / "files"
    paths = {
        "spark": _zip_package(tmp_path / "lib" / "spark.zip", PKGS[0]),
        "user": _zip_package(root / "user.zip", PKGS[1]),
        "sibling": _zip_package(tmp_path / "files-old" / "s.zip", PKGS[2]),
    }
    monkeypatch.setattr(SparkFiles, "_root_directory", str(root))
    for p in paths.values():
        monkeypatch.syspath_prepend(p)
    for pkg in PKGS:
        importlib.import_module(f"{pkg}.one")
    yield paths
    for name in [m for m in sys.modules if m.split(".")[0] in PKGS]:
        del sys.modules[name]
    for key in [k for k, imp in sys.path_importer_cache.items()
                if isinstance(imp, zipimport.zipimporter)
                and imp.archive in paths.values()]:
        del sys.path_importer_cache[key]


@pytest.fixture
def reads(monkeypatch):
    """Archives whose central directory `zipimport` reads from here on."""
    got = []
    read = zipimport._read_directory

    def counting(archive):
        got.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return got


def test_invalidate_caches_rereads_only_sparkfiles_archives(archives,
                                                            reads):
    assert set(archives.values()) <= _zip_archives()
    importlib.invalidate_caches()
    assert set(archives.values()) <= set(reads)  # what every task costs

    reads.clear()
    _drop_spark_zip_importers()
    assert _zip_archives() & set(archives.values()) == {archives["user"]}
    importlib.invalidate_caches()
    assert set(reads) == {archives["user"]}


def test_dropped_archive_still_imports_without_a_reread(archives, reads):
    _drop_spark_zip_importers()
    importlib.invalidate_caches()
    reads.clear()
    two = importlib.import_module(f"{PKGS[0]}.two")
    assert two.VALUE == 2
    assert two.__file__.startswith(archives["spark"])
    assert reads == []  # the importer is seeded from _zip_directory_cache


def test_without_a_sparkfiles_root_every_zip_importer_goes(archives,
                                                           monkeypatch):
    monkeypatch.setattr(SparkFiles, "_root_directory", None)
    _drop_spark_zip_importers()
    assert not _zip_archives() & set(archives.values())

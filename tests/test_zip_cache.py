"""Shared zip-directory reads installed by the package ``__init__``.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python worker call.  Before CPython 3.13 the stock
``zipimporter.invalidate_caches`` re-reads the whole archive directory
once per importer; the package replaces it with a version that reads
each archive once and re-reads it only after the archive changed.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import spark_bi5_datasource_spark as pkg

_INSTALLED = zipimport.zipimporter.invalidate_caches
STOCK = getattr(_INSTALLED, "__wrapped__", _INSTALLED)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

eager_stdlib = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13+ zipimport invalidates lazily"
)

MODULES = {
    "zpkg/__init__.py": "",
    "zpkg/sub/__init__.py": "",
    "zpkg/sub/mod.py": "X = 1\n",
}


def write_zip(path: str, modules: dict[str, str]) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    os.replace(tmp, path)


def importers(archive: str) -> list[zipimport.zipimporter]:
    return [
        v
        for v in sys.path_importer_cache.values()
        if isinstance(v, zipimport.zipimporter) and v.archive == archive
    ]


@pytest.fixture()
def zpkg(tmp_path, monkeypatch):
    """A zipped package with a subpackage: three zipimporters (archive
    root, ``zpkg``, ``zpkg/sub``) over one archive."""
    archive = str(tmp_path / "zpkg.zip")
    write_zip(archive, MODULES)
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("zpkg.sub.mod")
    assert len(importers(archive)) == 3
    yield archive
    for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.fixture()
def reads(monkeypatch):
    """Archives passed to ``zipimport._read_directory``, in call order."""
    calls: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@eager_stdlib
def test_repeat_invalidation_reads_nothing(zpkg, reads, monkeypatch):
    importlib.invalidate_caches()
    assert reads.count(zpkg) == 1  # first sight of the archive: one read, shared
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(zpkg) == 0

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", STOCK)
    importlib.invalidate_caches()
    assert reads.count(zpkg) == 3  # stock: once per importer, every call


@eager_stdlib
def test_rewritten_archive_is_reread(zpkg):
    importlib.invalidate_caches()
    write_zip(zpkg, {**MODULES, "zpkg/sub/added.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zpkg.sub.added").Y == 2


@eager_stdlib
def test_deleted_archive_keeps_stock_behaviour(zpkg):
    importlib.invalidate_caches()
    os.remove(zpkg)
    importlib.invalidate_caches()
    assert all(imp._files == {} for imp in importers(zpkg))
    assert zpkg not in zipimport._zip_directory_cache

    write_zip(zpkg, {**MODULES, "zpkg/sub/added.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zpkg.sub.added").Y == 2


def test_second_import_does_not_rewrap():
    code = (
        "import sys, zipimport\n"
        "import spark_bi5_datasource_spark\n"
        "first = zipimport.zipimporter.invalidate_caches\n"
        "del sys.modules['spark_bi5_datasource_spark']\n"
        "import spark_bi5_datasource_spark\n"
        "assert zipimport.zipimporter.invalidate_caches is first\n"
        "assert not hasattr(getattr(first, '__wrapped__', first), '__wrapped__')\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True)
    pkg._share_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is _INSTALLED


@pytest.mark.parametrize("version, patched", [((3, 12, 1), True), ((3, 13, 0), False)])
def test_installed_only_before_313(monkeypatch, version, patched):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", STOCK)
    monkeypatch.setattr(sys, "version_info", version)
    pkg._share_zip_directories()
    assert (zipimport.zipimporter.invalidate_caches is not STOCK) == patched


@eager_stdlib
def test_python_workers_share_pyspark_zip(spark, bi5_tree):
    """Inside a Python worker, where pyspark is imported from
    ``pyspark.zip``, a repeat invalidation reads no archive."""
    assert spark.read.format("bi5").option("digits", 5).load(str(bi5_tree)).count() > 0

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        # Imported by the bi5 read's worker already; import it here too
        # so the probe does not depend on which pooled worker runs it.
        import spark_bi5_datasource_spark  # noqa: F401

        on_zip = sum(
            isinstance(v, zipimport.zipimporter) and v.archive.endswith("pyspark.zip")
            for v in sys.path_importer_cache.values()
        )
        real = zipimport._read_directory
        calls = []

        def counting(archive):
            calls.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            calls.clear()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pd.DataFrame({"on_zip": [on_zip], "reads": [len(calls)]})

    [row] = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "on_zip long, reads long")
        .collect()
    )
    assert row.on_zip >= 2  # the stock method would re-read pyspark.zip this often
    assert row.reads == 0

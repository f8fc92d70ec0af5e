"""Zip archives are re-parsed only when they change (``_zipcache``).

Python workers call ``importlib.invalidate_caches()`` before every task;
on CPython < 3.13 the stock ``zipimporter.invalidate_caches`` re-parses
the archive's whole central directory each time.
"""

from __future__ import annotations

import importlib
import json
import sys
import zipfile
import zipimport

import pytest

from etl_arcgis_spark import _zipcache

pytestmark = pytest.mark.skipif(
    sys.implementation.name != "cpython" or sys.version_info >= (3, 13),
    reason="the stock method is lazy from CPython 3.13 on",
)


@pytest.fixture
def zip_package(tmp_path, monkeypatch):
    """A package ``zc_pkg`` imported from a zip archive, and the list of
    archives ``zipimport._read_directory`` parses from then on."""
    archive = str(tmp_path / "zc_pkg.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zc_pkg/__init__.py", "")
        zf.writestr("zc_pkg/a.py", "VALUE = 'a'\n")
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("zc_pkg.a")
    parsed: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        parsed.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, parsed
    for name in [m for m in sys.modules if m == "zc_pkg" or m.startswith("zc_pkg.")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def test_installed_once():
    assert zipimport.zipimporter.invalidate_caches is _zipcache.invalidate_caches
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is _zipcache.invalidate_caches


def test_unchanged_archive_is_not_reparsed(zip_package):
    archive, parsed = zip_package
    importers = [
        imp
        for key, imp in sys.path_importer_cache.items()
        if key.startswith(archive) and isinstance(imp, zipimport.zipimporter)
    ]
    assert len(importers) == 2  # the archive root and zc_pkg's __path__
    importlib.invalidate_caches()
    assert parsed.count(archive) == 1  # first sight: one read, shared
    importlib.invalidate_caches()
    assert parsed.count(archive) == 1  # unchanged: not parsed again
    assert all(imp._files is zipimport._zip_directory_cache[archive] for imp in importers)


def test_changed_archive_is_reparsed_once(zip_package):
    archive, parsed = zip_package
    importlib.invalidate_caches()
    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("zc_pkg/b.py", "VALUE = 'b'\n")
    parsed.clear()
    importlib.invalidate_caches()
    assert parsed.count(archive) == 1
    assert importlib.import_module("zc_pkg.b").VALUE == "b"


def test_removed_archive_empties_the_directory(zip_package, tmp_path):
    archive, _ = zip_package
    importlib.invalidate_caches()
    (tmp_path / "zc_pkg.zip").unlink()
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert all(
        imp._files == {}
        for key, imp in sys.path_importer_cache.items()
        if key.startswith(archive) and isinstance(imp, zipimport.zipimporter)
    )


def test_worker_tasks_parse_no_archive(spark, tmp_path):
    """From inside a reader's ``read()`` on a real Python worker: the
    rule is installed and the per-task ``invalidate_caches()`` call
    parses no archive."""
    from pyspark.sql.types import BooleanType, IntegerType, StructField, StructType

    from etl_arcgis_spark.sources.arcgis_sim import (
        ArcGISSimDataSource,
        ArcGISSimReader,
        register,
    )

    layer = tmp_path / "layer.jsonl"
    layer.write_text("".join(json.dumps({"oid": i}) + "\n" for i in range(10)))

    class ProbeReader(ArcGISSimReader):
        def read(self, partition):
            import importlib
            import sys
            import zipimport

            method = zipimport.zipimporter.invalidate_caches
            installed = getattr(method, "__module__", "") == "etl_arcgis_spark._zipcache"
            importers = sum(
                isinstance(imp, zipimport.zipimporter)
                for imp in sys.path_importer_cache.values()
            )
            parsed = []
            real = zipimport._read_directory
            zipimport._read_directory = lambda path: parsed.append(path) or real(path)
            try:
                importlib.invalidate_caches()  # what the worker runs before a task
            finally:
                zipimport._read_directory = real
            yield installed, importers, len(parsed)

    class ProbeSource(ArcGISSimDataSource):
        @classmethod
        def name(cls):
            return "arcgis_sim_zipprobe"

        def schema(self):
            return StructType(
                [
                    StructField("installed", BooleanType()),
                    StructField("importers", IntegerType()),
                    StructField("parsed", IntegerType()),
                ]
            )

        def reader(self, schema):
            return ProbeReader(schema, dict(self.options))

    register(spark)
    spark.dataSource.register(ProbeSource)
    path = str(layer)
    assert spark.read.format("arcgis_sim").option("path", path).load().count() == 10
    rows = spark.read.format("arcgis_sim_zipprobe").option("path", path).load().collect()
    assert len(rows) == 1
    assert rows[0]["installed"] is True
    assert rows[0]["importers"] > 0  # pyspark itself is imported from zip archives
    assert rows[0]["parsed"] == 0

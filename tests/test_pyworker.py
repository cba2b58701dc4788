"""Python workers re-read a zip archive on importlib.invalidate_caches()
only when it changed on disk (oar_ocr_spark/_pyworker.py). Spark calls
invalidate_caches() at the start of every task; before CPython 3.12
each call re-parsed pyspark.zip and the Spark jar, about 0.25 s."""

import importlib
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import types as T

import oar_ocr_spark
from oar_ocr_spark.partitioning import python_stage


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value}\n")


def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pyworker_zmod_a": 1})
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("pyworker_zmod_a").VALUE == 1
        importlib.invalidate_caches()
        reads = []
        read_directory = zipimport._read_directory
        with monkeypatch.context() as m:
            m.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or read_directory(a))
            importlib.invalidate_caches()
        assert reads == []

        # addPyFile's case: the archive changes, so it must be re-read
        _write_zip(archive, {"pyworker_zmod_a": 1, "pyworker_zmod_b": 2})
        importlib.invalidate_caches()
        assert importlib.import_module("pyworker_zmod_b").VALUE == 2
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("pyworker_zmod_a", "pyworker_zmod_b"):
            sys.modules.pop(name, None)


def test_python_worker_skips_unchanged_archives(spark):
    def probe(_id):
        import importlib
        import sys
        import zipimport

        # referencing the package makes the worker import it while
        # unpickling this function, as every engine UDF does
        assert oar_ocr_spark.__name__ == "oar_ocr_spark"
        archives = {
            f.archive
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        }
        # self-contained: the worker cannot import this test module
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read_directory(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield (len(archives), sorted(reads))

    schema = T.StructType(
        [
            T.StructField("zip_archives", T.IntegerType()),
            T.StructField("reads", T.ArrayType(T.StringType())),
        ]
    )
    rows = python_stage(spark.range(4), probe, schema, "pyworker_probe", parallelism=4).collect()
    if not any(r.zip_archives for r in rows):
        pytest.skip("the Python workers import nothing from zip archives")
    assert [r.reads for r in rows] == [[]] * len(rows)

"""Stable zip finders: a zip on ``sys.path`` is re-read only when it
changes, and a PySpark worker that has imported the package stops
re-reading pyspark.zip and the Spark jar before every task."""

from __future__ import annotations

import importlib
import importlib.machinery
import sys
import zipfile
import zipimport

from pyspark.sql import functions as F

from data_pipeline_project_spark.functions import zip_finders
from data_pipeline_project_spark.operators.text import text_stats_struct


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in files.items():
            zf.writestr(name, body)


def test_stable_finder_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"mod_a.py": "VALUE = 'a'\n"})
    saved = (sys.path[:], sys.path_hooks[:], dict(sys.path_importer_cache))
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    try:
        # importing the package outside a task leaves the import
        # machinery alone
        assert zipimport.zipimporter in sys.path_hooks
        assert zip_finders._StableZipImporter not in sys.path_hooks
        sys.path.insert(0, archive)
        assert importlib.import_module("mod_a").VALUE == "a"
        assert type(sys.path_importer_cache[archive]) is zipimport.zipimporter

        zip_finders.install()
        zip_finders.install()
        assert zipimport.zipimporter not in sys.path_hooks
        assert sys.path_hooks.count(zip_finders._StableZipImporter) == 1
        assert archive not in sys.path_importer_cache

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        # rebuilt from zipimport's directory cache, not from the file
        importlib.machinery.PathFinder.find_spec("mod_none", [archive])
        finder = sys.path_importer_cache[archive]
        assert type(finder) is zip_finders._StableZipImporter
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"mod_b.py": "VALUE = 'b'  # rewritten\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("mod_b").VALUE == "b"
        importlib.invalidate_caches()
        assert reads == [archive]
    finally:
        sys.path[:], sys.path_hooks[:] = saved[0], saved[1]
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved[2])
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("mod_a", "mod_b"):
            sys.modules.pop(name, None)


def test_worker_keeps_zip_directories_across_tasks(spark):
    # nested, so cloudpickle ships it by value; its body imports the
    # package, as every package kernel does
    def _worker_finders(batches):
        import importlib.machinery
        import os
        import sys
        import zipfile
        import zipimport

        import pyarrow as pa

        import data_pipeline_project_spark  # noqa: F401

        for _ in batches:
            pass
        # look every sys.path entry up, so each zip on it has a finder
        importlib.machinery.PathFinder.find_spec("_no_such_module_")
        finders = list(sys.path_importer_cache.values())
        reads = []
        real_read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real_read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real_read
        yield pa.RecordBatch.from_pydict(
            {
                "plain": [sum(type(f) is zipimport.zipimporter for f in finders)],
                "zips": [sum(isinstance(f, zipimport.zipimporter) for f in finders)],
                "rereads": [len(reads)],
                "zips_on_path": [
                    sum(os.path.isfile(p) and zipfile.is_zipfile(p) for p in sys.path)
                ],
            }
        )

    kernel_rows = (
        spark.createDataFrame([("one row of text",)], "text string")
        .select(text_stats_struct(F.col("text")).alias("s"))
        .collect()
    )
    assert len(kernel_rows) == 1
    (probe,) = (
        spark.range(1)
        .repartition(1)
        .mapInArrow(_worker_finders, "plain long, zips long, rereads long, zips_on_path long")
        .collect()
    )
    # every zip on the worker's sys.path has a finder, none plain
    assert probe.zips >= probe.zips_on_path, probe
    assert probe.plain == 0, probe
    assert probe.rereads == 0, probe

"""The Python-worker zip-cache fix (``pdf_extraction_spark._worker``):
an unchanged archive is read once, a rewritten one is read again, and
every engine UDF worker runs with the fix while the driver does not."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ invalidates zip caches lazily"
)


def test_unchanged_archive_is_read_once(tmp_path, monkeypatch):
    from pdf_extraction_spark._worker import install_zip_cache_fix

    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipfix_a.py", "X = 1\n")

    # undone at teardown: the class method, the module reader, the path state
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or read_directory(path)
    )

    importer = zipimport.zipimporter(archive)
    install_zip_cache_fix()
    reads.clear()
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [archive]

    # a rewrite (new entry: new size and mtime) is read again, and imports
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipfix_a.py", "X = 1\n")
        zf.writestr("zipfix_b.py", "X = 2\n")
    importer.invalidate_caches()
    assert reads == [archive, archive]
    assert importer.find_spec("zipfix_b") is not None
    importlib.invalidate_caches()
    try:
        assert importlib.import_module("zipfix_b").X == 2
    finally:
        sys.modules.pop("zipfix_b", None)


def test_engine_workers_run_the_fix(spark):
    """A UDF over an engine function: unpickling it imports the package in
    the worker, which installs the fix before the function runs. Every
    partition's worker reports the engine's method; the driver keeps the
    interpreter's."""
    from pdf_extraction_spark.operators.extract import _extract_parse_batches
    from pdf_extraction_spark.sources.pages import synth_pages_df

    def probe(batches):
        import zipimport

        from pyspark import TaskContext

        fixed = zipimport.zipimporter.invalidate_caches.__module__ == "pdf_extraction_spark._worker"
        pid = TaskContext.get().partitionId()
        for out in _extract_parse_batches(batches):
            yield pd.DataFrame({"partition_id": [pid] * len(out), "fixed": fixed})

    rows = (
        synth_pages_df(spark, 16).repartition(4)
        .mapInPandas(probe, "partition_id int, fixed boolean")
        .distinct().collect()
    )
    assert sorted((r.partition_id, r.fixed) for r in rows) == [(p, True) for p in range(4)]
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"

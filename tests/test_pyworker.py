"""The Python daemon default (xcube_spark/util/pyworker.py): per-task
``importlib.invalidate_caches()`` must not re-read unchanged zip
archives, and changed or newly shipped archives must still import."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from xcube_spark.util import pyworker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is lazy on CPython >= 3.13")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def test_invalidate_caches_rereads_only_changed_archive(tmp_path,
                                                         monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"pyworker_zip_a": 1})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(str(archive))
    assert pyworker.install()

    import pyworker_zip_a
    assert pyworker_zip_a.VALUE == 1
    importlib.invalidate_caches()  # first read records the stamp

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert str(archive) not in reads

    _write_zip(archive, {"pyworker_zip_a": 1, "pyworker_zip_b": 2})
    importlib.invalidate_caches()
    assert str(archive) in reads
    import pyworker_zip_b
    assert pyworker_zip_b.VALUE == 2
    for name in ("pyworker_zip_a", "pyworker_zip_b"):
        sys.modules.pop(name, None)


def test_worker_tasks_skip_unchanged_archives(spark, tmp_path):
    # task bodies are nested so they pickle by value: workers cannot
    # import this test module
    def probe(batches):
        """mapInPandas body: count archive reads of one per-task cache
        invalidation inside the worker."""
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        patched = zipimport.zipimporter.invalidate_caches.__module__
        yield pd.DataFrame({"reads": [len(reads)], "zips": [zips],
                            "patched": [patched]})

    schema = "reads long, zips long, patched string"
    df = spark.range(4, numPartitions=2)
    df.mapInPandas(probe, schema).collect()  # warm the workers
    rows = df.mapInPandas(probe, schema).collect()
    assert {r.patched for r in rows} == {"xcube_spark.util.pyworker"}
    if not any(r.zips for r in rows):
        pytest.skip("workers import nothing from zip archives")
    assert [r.reads for r in rows] == [0] * len(rows)

    # an archive shipped after the daemon started still imports
    archive = tmp_path / "pyworker_shipped.zip"
    _write_zip(archive, {"pyworker_shipped_mod": 42})
    spark.sparkContext.addPyFile(str(archive))

    def use_shipped(batches):
        import pandas as pd
        import pyworker_shipped_mod

        for _ in batches:
            pass
        yield pd.DataFrame({"v": [pyworker_shipped_mod.VALUE]})

    got = {r.v for r in df.mapInPandas(use_shipped, "v long").collect()}
    assert got == {42}

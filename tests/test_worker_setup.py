"""Per-task worker set-up (``extract._prepare_worker``): the pyarrow thread pin
and the dropped zip importers.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task; on
Python < 3.13 each cached ``zipimporter`` then re-reads its whole archive
directory. The hook drops those cache entries, so the call has nothing to
re-read, while imports from the archives keep working through fresh importers.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from pdf_extract_sys_spark.extract import _prepare_worker


def _zip_importers() -> list[str]:
    return [p for p, f in sys.path_importer_cache.items() if isinstance(f, zipimport.zipimporter)]


def test_prepare_worker_keeps_zip_imports_working(tmp_path, monkeypatch):
    archive = tmp_path / "pkgs.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipped_mod_a.py", "VALUE = 'a'\n")
        zf.writestr("zipped_mod_b.py", "VALUE = 'b'\n")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zipped_mod_a", "zipped_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    assert importlib.import_module("zipped_mod_a").VALUE == "a"
    assert str(archive) in _zip_importers()

    _prepare_worker()
    importlib.invalidate_caches()
    assert _zip_importers() == []

    mod_b = importlib.import_module("zipped_mod_b")
    assert mod_b.VALUE == "b"
    assert isinstance(mod_b.__spec__.loader, zipimport.zipimporter)


def test_python_task_leaves_no_zip_importer_to_reread(spark):
    """Inside a Spark task: after an extraction entry point has run, the next
    ``invalidate_caches()`` finds no zip importer, and a pyspark submodule the
    worker has not imported yet still imports (from pyspark.zip when the worker
    loads pyspark from there)."""

    # nested and self-contained: the Python worker cannot import this test module
    def probe(_):
        import importlib
        import sys
        import zipimport

        import pyspark

        from pdf_extract_sys_spark.extract import extract_map_in_arrow

        def zip_importers():
            return [
                p for p, f in sys.path_importer_cache.items()
                if isinstance(f, zipimport.zipimporter)
            ]

        had_zip = bool(zip_importers())
        assert list(extract_map_in_arrow(iter([]))) == []
        importlib.invalidate_caches()
        left = zip_importers()
        fresh = [
            m for m in ("pyspark.ml.linalg", "pyspark.mllib.linalg", "pyspark.ml.stat")
            if m not in sys.modules
        ]
        mod = importlib.import_module(fresh[0]) if fresh else None
        yield {
            "had_zip": had_zip,
            "left": left,
            "fresh": fresh[:1],
            "pyspark_from_zip": ".zip" in pyspark.__file__,
            "mod_file": getattr(mod, "__file__", None),
            "mod_from_zip": isinstance(getattr(mod, "__loader__", None), zipimport.zipimporter),
        }

    (res,) = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert res["left"] == [], res
    assert res["fresh"], res
    assert res["mod_file"], res
    if res["pyspark_from_zip"]:
        assert res["had_zip"] and res["mod_from_zip"], res

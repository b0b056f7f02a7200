"""Python workers keep their zip archive directories across tasks.

The PySpark worker calls importlib.invalidate_caches() before every
task; where zipimporter.invalidate_caches re-reads its archive at once,
importing distill_spark in a worker turns that re-read off
(distill_spark._keep_zip_directories). The driver is left as it is.
"""

import zipimport

import pytest

EAGER = "_read_directory" in getattr(
    zipimport.zipimporter, "invalidate_caches", lambda: None).__code__.co_names


@pytest.mark.skipif(not EAGER, reason="this interpreter's zipimporter re-reads lazily")
def test_worker_zipimporters_keep_their_directories(spark):
    def files_kept(it):
        import importlib
        import sys
        import zipimport

        import distill_spark  # noqa: F401  a distill_spark UDF imports it
        import pandas as pd

        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        before = [z._files for z in zips]
        importlib.invalidate_caches()
        kept = sum(z._files is b for z, b in zip(zips, before))
        for _ in it:
            yield pd.DataFrame({"zips": [len(zips)], "kept": [kept]})

    rows = spark.range(4).repartition(2).mapInPandas(
        files_kept, "zips long, kept long").collect()
    assert rows and all(r.zips > 0 for r in rows), rows
    assert all(r.kept == r.zips for r in rows), rows
    # the driver's importers are untouched
    assert "_read_directory" in zipimport.zipimporter.invalidate_caches.__code__.co_names

"""The worker-side zip pin (operators/worker.py): inside a Python task,
the archives under ``SPARK_HOME`` keep their parsed directory across
``importlib.invalidate_caches()``, shipped py-files are still re-read,
and Spark's archives still serve imports."""

from __future__ import annotations

import os

# pyspark modules no pipeline task imports, so a worker has not loaded them
UNLOADED_CANDIDATES = (
    "pyspark.install",
    "pyspark.sql.avro.functions",
    "pyspark.sql.protobuf.functions",
)


def test_pin_keeps_spark_zips_and_rereads_shipped_zip(spark):
    def probe(_rows):
        import importlib
        import importlib.util
        import os
        import sys
        import zipimport

        from datamunging_spark.operators.worker import pin_spark_home_zips

        # a miss walks every sys.path entry, so each archive has an importer
        importlib.util.find_spec("datamunging_no_such_module")
        zips = [
            imp
            for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
        ]
        before = [imp._files for imp in zips]
        pin_spark_home_zips()
        importlib.invalidate_caches()
        kept = [
            (os.path.realpath(imp.archive), imp._files is f)
            for imp, f in zip(zips, before)
        ]

        fresh = next(m for m in UNLOADED_CANDIDATES if m not in sys.modules)
        mod = importlib.import_module(fresh)
        home = os.path.join(os.path.realpath(os.environ["SPARK_HOME"]), "")
        yield kept, home, fresh, mod.__file__

    [(kept, home, fresh, fresh_file)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    )
    spark_zips = [(a, k) for a, k in kept if a.startswith(home)]
    shipped = [(a, k) for a, k in kept if not a.startswith(home)]

    assert any(a.endswith("pyspark.zip") for a, _ in spark_zips), kept
    assert any(a.endswith(".jar") for a, _ in spark_zips), kept
    assert all(k for _, k in spark_zips), spark_zips

    assert any(a.endswith("datamunging_spark_pyfiles.zip") for a, _ in shipped), kept
    assert not any(k for _, k in shipped), shipped

    pyspark_zip = next(a for a, _ in spark_zips if a.endswith("pyspark.zip"))
    assert os.path.realpath(fresh_file).startswith(pyspark_zip), (fresh, fresh_file)

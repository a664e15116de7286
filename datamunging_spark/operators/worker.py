"""Worker-side set-up shared by every pipeline Python stage.

Before each task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py:setup_spark_files``). Up to CPython 3.12 a
``zipimporter`` answers that by re-reading its archive's whole central
directory, once per importer instance; CPython 3.13 made it lazy. A
reused worker holds one importer per imported package directory: 13 over
``pyspark.zip`` (1,328 entries, ~3.6 ms each) and 2 over the spark-core
jar (~16 ms each). That is ~76 ms of Python CPU per task whatever the
data; exempting those archives raised the ``munge_corpus`` benchmark's
pages/s by x1.38 (median of 10 interleaved pairs on 4 vCPUs, Python
3.11.7, Spark 4.1.2).
"""

from __future__ import annotations

import os
import sys
import zipimport


def _keep_directory() -> None:
    """Stand-in ``invalidate_caches``: the archive cannot change under a
    live worker, so its parsed directory stays valid."""


def pin_spark_home_zips() -> None:
    """Exempt the zip importers of archives under ``SPARK_HOME`` from
    per-task re-reads. Those are the archives Spark put on the worker's
    ``PYTHONPATH`` at start: pyspark.zip, the py4j zip and the spark-core
    jar. Every other archive, such as an ``addPyFile``/``--py-files`` zip
    (this package's own included), keeps Spark's per-task semantics.
    Workers are reused, so after a worker's first pipeline task every
    later task it runs skips the re-parse."""
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        return
    # the jar's path comes from the JVM class loader with symlinks resolved
    home = os.path.join(os.path.realpath(spark_home), "")
    for imp in list(sys.path_importer_cache.values()):
        if (
            isinstance(imp, zipimport.zipimporter)
            and "invalidate_caches" not in vars(imp)
            and os.path.realpath(imp.archive).startswith(home)
        ):
            imp.invalidate_caches = _keep_directory

"""PySpark worker daemon for the test session: the stock ``pyspark.daemon``
without the archives Spark puts on every Python worker's ``sys.path``.

Spark prepends ``pyspark.zip``, the py4j source zip and the spark-core jar
to the worker path. PySpark 4.1 calls ``importlib.invalidate_caches()`` at
the start of every task, and on Python 3.11 that makes each cached
``zipimporter`` re-read its archive's whole central directory. The suite is
thousands of tiny jobs over ``createDataFrame`` frames, whose scans run in
Python workers, so this per-task re-read dominated its wall time: a
one-row aggregate over such a frame took 0.9 s with the archives on the
path and 0.4 s without (4-core VM, ``local[*]``).

The workers import the same installed ``pyspark`` the test driver runs,
so the archives are dropped only when that package is importable from a
directory on the path; otherwise the stock path is kept.
"""

import os
import runpy
import sys

_dirs = [p for p in sys.path if not os.path.isfile(p)]
if any(
    os.path.isfile(os.path.join(p or os.curdir, "pyspark", "__init__.py"))
    for p in _dirs
):
    sys.path[:] = _dirs
    sys.path_importer_cache.clear()

runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)

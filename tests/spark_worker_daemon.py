"""PySpark's worker daemon for the test session, minus one per-task cost.

``conftest.py`` sets it as ``spark.python.daemon.module``. Every Python
task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On Python 3.11 that makes each
``zipimporter`` on the worker path re-read its archive's directory: the
importers over ``pyspark.zip``, the py4j zip and the spark-core jar take
0.12-0.16 s a task on a 4-core host. The archives do not change while the
session runs, so this daemon's workers skip that re-read. Path-based
finders are still invalidated, so files added with ``addPyFile`` stay
importable. Everything else is PySpark's own daemon and worker.
"""

import zipimport

zipimport.zipimporter.invalidate_caches = lambda self: None

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()

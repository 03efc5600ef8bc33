"""Spark's Python worker daemon (``pyspark.daemon``), started with no
archive on ``sys.path`` that no import needs.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
spark-core jar on the workers' PYTHONPATH. Every task calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``), and on
Python 3.11 that makes every zipimporter over those archives re-read
its central directory: 16 of them once pyspark is imported from the
zip, ≈0.12 CPU s per task (``tools/worker_probe.py``). This module
drops the ``.jar`` entries (the jar holds no ``.py`` file) and, when an
installed pyspark and py4j import without them, the ``python/lib``
zips, then runs the stock daemon. ``session.get_spark`` selects it
(``spark.python.daemon.module``) only when that installed pyspark is
the JVM's Spark version.
"""

import os
import sys
from importlib.machinery import PathFinder


def _archives(path: list[str]) -> set[str]:
    jars = {p for p in path if p.endswith(".jar")}
    zips = {
        p for p in path
        if p.endswith(".zip") and os.path.dirname(p).endswith(os.path.join("python", "lib"))
    }
    rest = [p for p in path if p not in jars | zips]
    if all(PathFinder.find_spec(m, rest) for m in ("pyspark", "py4j")):
        return jars | zips
    return jars


if __name__ == "__main__":
    drop = _archives(sys.path)
    sys.path[:] = [p for p in sys.path if p not in drop]
    # invalidate_caches() walks the importer cache, not sys.path, and
    # importing this package already cached importers for the archives
    for key in [k for k in sys.path_importer_cache if k.startswith(tuple(drop))]:
        del sys.path_importer_cache[key]
    from pyspark.daemon import manager

    manager()

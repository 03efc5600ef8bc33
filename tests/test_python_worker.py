"""Python worker tasks run with no Spark archive on ``sys.path``
(``etl_mp_transactions_spark/pyworker.py``): no zipimporter for the
per-task ``importlib.invalidate_caches()`` to re-read, and the same
pyspark as the driver."""

from __future__ import annotations

import os
import subprocess
import sys

import pyspark
from pyspark.find_spark_home import _find_spark_home

from etl_mp_transactions_spark import session
from etl_mp_transactions_spark.pyworker import _archives

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _task_state(_):
    import sys
    import zipimport

    import pyspark

    yield (
        sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()),
        [p for p in sys.path if p.endswith((".zip", ".jar"))],
        pyspark.__version__,
    )


def test_worker_task_reads_no_archive(spark):
    (zipimporters, archives, version), = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(_task_state).collect()
    )
    home = os.path.realpath(_find_spark_home())
    assert zipimporters == 0
    assert [p for p in archives if os.path.realpath(p).startswith(home)] == []
    assert version == pyspark.__version__


def test_package_import_leaves_pyspark_unimported():
    # `python -m etl_mp_transactions_spark.pyworker` imports the package
    # first; pyspark must still be unimported when the daemon prunes
    code = (
        "import sys, etl_mp_transactions_spark as p;"
        "assert 'pyspark' not in sys.modules, 'pyspark imported';"
        "assert callable(p.get_spark)"
    )
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True)


def test_zips_stay_when_pyspark_imports_only_from_them(tmp_path):
    lib = tmp_path / "python" / "lib"
    jar = str(tmp_path / "jars" / "spark-core_2.13-4.1.2.jar")
    zips = [str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip")]
    assert _archives([*zips, jar, str(tmp_path)]) == {jar}
    site = os.path.dirname(os.path.dirname(pyspark.__file__))
    assert _archives([*zips, jar, site]) == {*zips, jar}


def test_daemon_module_unset_when_versions_differ(monkeypatch):
    assert session._python_worker_conf()["spark.python.daemon.module"] == (
        "etl_mp_transactions_spark.pyworker"
    )
    monkeypatch.setattr(session.pyspark, "__version__", "0.0.0")
    assert session._python_worker_conf() == {}

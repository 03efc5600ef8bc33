"""SparkSession factory tuned for this engine.

Defaults are chosen for correctness-critical determinism (UTC session
timezone, ANSI on) and for scale (AQE with skew-join handling, nested
schema pruning so the bronze `payload` struct prunes at the parquet
scan, Arrow for the few pandas-UDF operators).

On a real cluster the same factory applies — only `master` and the
shuffle-partition count change (shuffle partitions should be sized so a
partition is ~100-200 MB of shuffle data; AQE coalesces the rest).
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from etl_mp_transactions_spark.workdirs import publish_fixture

# Conservative local default; bench/tests override via env. At cluster
# scale you want cores*2..3 initial partitions and let AQE coalesce.
_DEFAULT_LOCAL_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_LOCAL_FS_SRC = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "InProcessLocalFileSystem.java"
)
_LOCAL_FS_CLASS = "etl_mp_transactions_spark.jvm.InProcessLocalFileSystem"


def _local_fs_conf() -> dict[str, str]:
    """Confs that put ``InProcessLocalFileSystem`` behind ``file://``:
    its classes on the driver classpath and ``fs.file.impl``. Empty when
    the JVM is already running (its classpath is fixed), or when no
    ``javac`` or Hadoop jar is there to compile with. The classes are
    compiled once per machine, under a key hashed from the source and
    the Spark build."""
    jvm_running = (
        SparkContext._gateway is not None
        # spark-submit started the JVM and hands pyspark its port
        or "PYSPARK_GATEWAY_PORT" in os.environ
    )
    # a "hadoop-provided" Spark build ships no Hadoop jar to compile against
    jars = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    if jvm_running or shutil.which("javac") is None or not jars:
        return {}
    hadoop_api = jars[0]
    with open(_LOCAL_FS_SRC, "rb") as f:
        src = f.read()
    key = hashlib.sha256(
        src + pyspark.__version__.encode() + os.path.basename(hadoop_api).encode()
    ).hexdigest()[:16]

    def build(staging: str) -> None:
        subprocess.run(
            ["javac", "--release", "17", "-nowarn", "-cp", hadoop_api,
             "-d", staging, _LOCAL_FS_SRC],
            check=True, capture_output=True,
        )

    classes = publish_fixture(
        os.path.join(tempfile.gettempdir(), f"sg_localfs_{key}"), build
    )
    return {
        "spark.driver.extraClassPath": classes,
        "spark.hadoop.fs.file.impl": _LOCAL_FS_CLASS,
    }


def get_spark(
    app_name: str = "etl-mp-transactions-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the tuned SparkSession.

    Session-level invariants the engine relies on:

    - ``spark.sql.session.timeZone=UTC``: date/timestamp rendering is
      deterministic and matches the DuckDB oracle.
    - ANSI mode stays ON (Spark 4 default); failure-tolerant semantics
      (the reference's return-input-on-parse-failure) are expressed with
      ``try_to_date``/``try_cast``, never by disabling ANSI.
    - AQE on, with skew-join splitting: at 100 TB the hot company_id /
      checksum keys would otherwise straggle a shuffle.
    - nested-schema pruning + vectorized reader: scans of the nested
      bronze shape read only the referenced leaf fields.
    - streaming checkpoints commit through
      ``FileSystemBasedCheckpointFileManager``, the manager Spark
      falls back to on filesystems without a FileContext binding.
      Every offset, commit, source/sink log and state-store file is
      written to a temp file and renamed into place. The default
      FileContext manager renames through ``FileContext.rename``,
      which on the local filesystem without the native Hadoop library
      resolves links by starting a ``readlink`` process per call
      (``RawLocalFileSystem.getFileLinkStatus``); ``FileSystem.rename``
      moves the file and its ``.crc`` with ``File.renameTo`` and
      starts none. On ``file://`` the commit semantics are the same:
      both check that the destination does not exist and then rename,
      so a second writer of the same batch id still fails, and the
      Hadoop ``.crc`` sidecars and Spark's state-file checksums
      (``<version>.delta.crc``) are still written and verified
      (tests/test_checkpoint_manager.py).
    - ``file://`` is ``jvm/InProcessLocalFileSystem.java``, Hadoop's
      ``LocalFileSystem`` over a ``RawLocalFileSystem`` whose
      ``setPermission`` calls ``Files.setPosixFilePermissions``.
      Without the native Hadoop library the stock one starts a
      ``chmod`` process for every file and directory it creates: each
      checkpoint log, state delta, sink file, ``.crc`` sidecar and
      commit-protocol directory of every micro-batch. It keeps the
      ``.crc`` sidecars (still a ``ChecksumFileSystem``), the file
      layout and the modes; a mode with bits beyond ``0777`` (sticky)
      goes to the stock method. It is compiled with ``javac`` once per
      machine and installed only when this call launches the JVM
      (the classpath is fixed afterwards), ``javac`` is on PATH and
      Spark bundles the Hadoop jar to compile against; otherwise
      Hadoop's own ``file://`` stays (tests/test_local_fs.py).
    """
    cpus = _DEFAULT_LOCAL_CPUS
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode runs THE whole engine in one JVM whose heap
        # defaults to 1g — fine at sf≤0.1, OOM on sf1's nested-bronze
        # build. Size it like a real executor (only effective when this
        # factory creates the JVM; externally-created sessions keep
        # their own sizing).
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
        # the oracle harness collects FULL results for exact-value
        # comparison; at sf1 the widest full-output queries serialize
        # >1g of task results (the 1g default aborts the collect, not
        # the query). A verification-harness knob, not a production
        # path — production queries never collect data-scale frames.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "4g"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- adaptive execution: runtime re-plan, skew splitting ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- scan efficiency ---
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # testdata's events.ts is TIMESTAMP(NANOS) parquet, which the
        # vectorized reader rejects; read as long and convert in the
        # loader (sources/tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- python boundary: Arrow everywhere we cross it ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- streaming checkpoints: rename with no process spawns ---
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # quieter local runs
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    for k, v in {**_local_fs_conf(), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

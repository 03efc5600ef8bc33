"""Streaming checkpoints commit through FileSystemBasedCheckpointFileManager
(session.get_spark): the manager every runner and state store gets, the
no-overwrite guard against a second writer of the same batch id, and
the checksum sidecars next to every committed file."""

import os

import pytest
from py4j.protocol import Py4JJavaError

from etl_mp_transactions_spark.streaming.filesource import (
    stage_events_as_files,
    stream_dedup_run,
)

_PKG = "org.apache.spark.sql.execution.streaming.checkpointing"


def _manager(spark, path: str):
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    cfm = getattr(getattr(jvm, _PKG), "CheckpointFileManager")
    return cfm.create(jvm.org.apache.hadoop.fs.Path(path), conf), jvm


def test_session_checkpoints_use_filesystem_manager(spark, tmp_path):
    fm, _ = _manager(spark, str(tmp_path))
    assert fm.getClass().getName() == f"{_PKG}.FileSystemBasedCheckpointFileManager"


def test_atomic_create_refuses_existing_file(spark, tmp_path):
    fm, jvm = _manager(spark, str(tmp_path))
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    first = fm.createAtomic(path, False)
    first.write(b"first")
    first.close()

    second = fm.createAtomic(path, False)
    second.write(b"second")
    with pytest.raises(Py4JJavaError) as err:
        second.close()
    # Spark raises its own subclass of the Hadoop exception
    hadoop_exists = jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.FileAlreadyExistsException"
    )
    assert hadoop_exists.isInstance(err.value.java_exception)
    assert (tmp_path / "0").read_bytes() == b"first"


def test_checkpoint_files_keep_crc_sidecars(spark, sf_dir, tmp_path):
    stage = stage_events_as_files(spark, sf_dir, str(tmp_path / "in"), n_files=2)
    ckpt = tmp_path / "ckpt"
    assert stream_dedup_run(spark, stage, str(ckpt), str(tmp_path / "out")).count() > 0

    for log in ("offsets", "commits", "sources/0"):
        assert (ckpt / log / "0").is_file()
        assert (ckpt / log / ".0.crc").is_file(), log
    parts = [p for p in (ckpt / "state" / "0").iterdir() if p.name.isdigit()]
    assert parts
    for p in parts:
        # the delta, Spark's own checksum of it, and Hadoop's .crc of both
        assert {"1.delta", ".1.delta.crc", "1.delta.crc", ".1.delta.crc.crc"} <= set(
            os.listdir(p)
        ), p

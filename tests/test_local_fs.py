"""``file://`` in a get_spark session is ``InProcessLocalFileSystem``
(session.get_spark): still a checksummed Hadoop ``LocalFileSystem``,
same modes as the stock one, and it starts no ``chmod`` process."""

import os
import shutil
import stat
import sys

import pytest

from etl_mp_transactions_spark.session import _LOCAL_FS_CLASS
from etl_mp_transactions_spark.streaming.filesource import (
    stage_events_as_files,
    stream_dedup_run,
)

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
from spawn_probe import command, record_spawns  # noqa: E402


def _session_fs(spark):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )


def _stock_fs(spark):
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.LocalFileSystem()
    fs.initialize(jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    return fs


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac: Hadoop's file:// stays")
def test_session_file_scheme_is_in_process_checksum_fs(spark):
    fs = _session_fs(spark)
    assert fs.getClass().getName() == _LOCAL_FS_CLASS
    checksummed = spark._jvm.java.lang.Class.forName("org.apache.hadoop.fs.ChecksumFileSystem")
    assert checksummed.isInstance(fs)


@pytest.mark.parametrize(
    "mode", [0o400, 0o444, 0o600, 0o640, 0o644, 0o700, 0o750, 0o755, 0o777]
)
def test_set_permission_gives_the_requested_mode(spark, tmp_path, mode):
    jvm = spark._jvm
    f = tmp_path / "f"
    f.write_bytes(b"x")
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission.createImmutable(mode)
    _session_fs(spark).setPermission(jvm.org.apache.hadoop.fs.Path(str(f)), perm)
    assert _mode(f) == mode


def test_sticky_directory_keeps_its_sticky_bit(spark, tmp_path):
    jvm = spark._jvm
    d = tmp_path / "d"
    d.mkdir()
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission.createImmutable(0o1777)
    _session_fs(spark).setPermission(jvm.org.apache.hadoop.fs.Path(str(d)), perm)
    assert _mode(d) == 0o1777


def test_created_files_and_dirs_get_stock_modes(spark, tmp_path):
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    private = jvm.org.apache.hadoop.fs.permission.FsPermission.createImmutable(0o700)
    trees = {}
    for side, fs in (("session", _session_fs(spark)), ("stock", _stock_fs(spark))):
        root = tmp_path / side
        fs.create(Path(str(root / "a" / "b" / "data"))).close()
        fs.mkdirs(Path(str(root / "c" / "d")))
        fs.mkdirs(Path(str(root / "private")), private)
        trees[side] = sorted(
            (os.path.relpath(os.path.join(d, n), root), _mode(os.path.join(d, n)))
            for d, dirs, files in os.walk(root)
            for n in dirs + files
        )
    assert trees["session"] == trees["stock"]
    names = dict(trees["session"])
    assert os.path.join("a", "b", ".data.crc") in names
    assert names["private"] == 0o700


@pytest.mark.skipif(
    shutil.which("jcmd") is None or shutil.which("jfr") is None,
    reason="needs the JDK's jcmd and jfr",
)
def test_stream_and_parquet_write_start_no_chmod(spark, sf_dir, tmp_path):
    stage = stage_events_as_files(spark, sf_dir, str(tmp_path / "in"), n_files=2)

    def call():
        out = stream_dedup_run(spark, stage, str(tmp_path / "ckpt"), str(tmp_path / "out"))
        out.write.parquet(str(tmp_path / "copy"))

    events = record_spawns(spark, call)
    assert [command(e) for e in events if command(e) == "chmod"] == []
    assert spark.read.parquet(str(tmp_path / "copy")).count() > 0

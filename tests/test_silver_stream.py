"""Streaming silver end-to-end: same transform as batch, exactly-once
across replayed bronze files, partitioned output, and the same result
after a restart from the checkpoint as from one uninterrupted run."""

import json
import os
import shutil
import threading

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from etl_mp_transactions_spark.operators.silver import silver_transactions
from etl_mp_transactions_spark.sources.bronze import build_bronze
from etl_mp_transactions_spark.streaming.filesource import scaled_state_partitions
from etl_mp_transactions_spark.streaming.silver_stream import run_silver_stream


def _kv_rows(df):
    """Every row, with the metadata map rendered as the sorted
    ``k=v;k=v`` string (maps have no stable order to compare), columns
    by name, rows in a canonical order."""
    entries = F.transform(
        F.map_entries("metadata"), lambda e: F.concat(e.key, F.lit("="), e.value)
    )
    kv = df.withColumn(
        "metadata_kv", F.array_join(F.array_sort(entries), ";")
    ).drop("metadata")
    return sorted(
        (tuple(r) for r in kv.select(*sorted(kv.columns)).collect()), key=repr
    )


class _Progress(StreamingQueryListener):
    """Progress reports of the streams started while it is attached."""

    def __init__(self):
        self.reports = []
        self._open = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        with self._cv:
            self._open.add(str(event.runId))

    def onQueryProgress(self, event):
        with self._cv:
            self.reports.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self._open.discard(str(event.runId))
            self._cv.notify_all()

    def take(self):
        """Wait for every started stream's termination (the listener
        bus is ordered, so its reports are in), then hand them over."""
        with self._cv:
            assert self._cv.wait_for(lambda: not self._open, 30), "no termination"
            out, self.reports = self.reports, []
        return out


def test_streaming_silver_matches_batch(spark, sf_dir, tmp_path):
    bronze_dir = str(tmp_path / "bronze")
    bronze = build_bronze(spark, sf_dir).limit(300)
    bronze.repartition(3).write.mode("overwrite").parquet(bronze_dir)
    schema = spark.read.parquet(bronze_dir).schema

    out = run_silver_stream(
        spark, bronze_dir, schema,
        str(tmp_path / "ckpt"), str(tmp_path / "silver"),
    )
    batch = silver_transactions(spark.read.parquet(bronze_dir)).dropDuplicates(
        ["checksum"]
    )
    # partitioned layout
    assert any(
        d.startswith("company_id=")
        for d in os.listdir(str(tmp_path / "silver"))
        if not d.startswith("_")
    )
    # exact values, every column and row
    assert _kv_rows(out) == _kv_rows(batch)


def test_streaming_silver_replay_adds_nothing(spark, sf_dir, tmp_path):
    bronze_dir = str(tmp_path / "bronze")
    build_bronze(spark, sf_dir).limit(200).repartition(2).write.mode(
        "overwrite"
    ).parquet(bronze_dir)
    schema = spark.read.parquet(bronze_dir).schema
    ckpt, silver_dir = str(tmp_path / "ckpt"), str(tmp_path / "silver")

    out1 = run_silver_stream(spark, bronze_dir, schema, ckpt, silver_dir)
    n1 = out1.count()

    part = sorted(
        f for f in os.listdir(bronze_dir) if f.endswith(".parquet")
    )[0]
    shutil.copy(os.path.join(bronze_dir, part), os.path.join(bronze_dir, "replay.parquet"))
    out2 = run_silver_stream(spark, bronze_dir, schema, ckpt, silver_dir)
    assert out2.count() == n1  # replayed file contributed zero rows


def _stamped_copy(src: str, dst_dir: str, i: int) -> None:
    # strictly increasing mtimes fix the file source's batch order
    dst = os.path.join(dst_dir, f"part-{i:04d}.parquet")
    shutil.copy(src, dst)
    os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))


def test_streaming_silver_restart_equals_uninterrupted(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Start on file 0, add files 1..3 and restart from the same
    checkpoint: the output equals one uninterrupted run over all four
    files. The tasks per batch are derived again at the restart (here
    they grow), while the state partitions keep the first start's
    count, which the checkpoint locked in."""
    staged = str(tmp_path / "staged")
    build_bronze(spark, sf_dir).limit(400).repartition(4).write.parquet(staged)
    parts = sorted(
        os.path.join(staged, f) for f in os.listdir(staged) if f.endswith(".parquet")
    )
    assert len(parts) == 4
    schema = spark.read.parquet(staged).schema

    # a per-task target of a third of one file: 3-4 tasks for the first
    # start, about 4x that once all files are there
    monkeypatch.setenv(
        "SPARK_GRAFT_STREAM_PART_BYTES", str(os.path.getsize(parts[0]) // 3)
    )
    restarted, whole = str(tmp_path / "bronze"), str(tmp_path / "bronze_all")
    os.makedirs(restarted)
    os.makedirs(whole)
    for i, p in enumerate(parts):
        _stamped_copy(p, whole, i)

    progress = _Progress()
    spark.streams.addListener(progress)
    try:
        _stamped_copy(parts[0], restarted, 0)
        with scaled_state_partitions(spark, restarted) as first_start:
            first_tasks, state_parts = first_start.tasks, first_start.partitions
        ckpt, silver_dir = str(tmp_path / "ckpt"), str(tmp_path / "silver")
        run_silver_stream(spark, restarted, schema, ckpt, silver_dir)
        first = progress.take()
        # one file per task and company: the sink writes the batch from
        # the derived task count, not from every state partition
        for d in os.listdir(silver_dir):
            if d.startswith("company_id="):
                files = os.listdir(os.path.join(silver_dir, d))
                assert len([f for f in files if f.endswith(".parquet")]) <= first_tasks

        for i, p in enumerate(parts[1:], 1):
            _stamped_copy(p, restarted, i)
        with scaled_state_partitions(spark, restarted) as second_start:
            assert second_start.tasks > first_tasks
            assert second_start.partitions > state_parts
        out = run_silver_stream(spark, restarted, schema, ckpt, silver_dir)
        second = progress.take()

        expected = run_silver_stream(
            spark, whole, schema, str(tmp_path / "ckpt_all"), str(tmp_path / "silver_all")
        )
        progress.take()
    finally:
        spark.streams.removeListener(progress)

    assert _kv_rows(out) == _kv_rows(expected)
    assert any(p["numInputRows"] for p in first)
    assert any(p["numInputRows"] for p in second)
    assert {
        p["stateOperators"][0]["numShufflePartitions"] for p in first + second
    } == {state_parts}


def test_tasks_follow_trigger_bytes_not_bucket(spark, tmp_path, monkeypatch):
    """With maxFilesPerTrigger the tasks per batch follow the bytes one
    trigger reads (that many files of the mean size), so a bucket that
    grows one small file at a time keeps one task per batch while the
    state partitions grow with it. Hidden and ``_`` files, which the
    file source skips, count for neither."""
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PART_BYTES", "1000")
    bucket = tmp_path / "bucket"
    bucket.mkdir()
    for i in range(20):
        (bucket / f"part-{i:02d}.parquet").write_bytes(b"x" * 900)
        (bucket / f".part-{i:02d}.parquet.crc").write_bytes(b"x" * 16)
    (bucket / "_SUCCESS").write_bytes(b"")
    before = spark.conf.get("spark.sql.shuffle.partitions")

    with scaled_state_partitions(spark, str(bucket), max_files_per_trigger=1) as one:
        assert spark.conf.get("spark.sql.shuffle.partitions") == "18"
    with scaled_state_partitions(spark, str(bucket), max_files_per_trigger=3) as three:
        pass
    with scaled_state_partitions(spark, str(bucket)) as every:
        pass

    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert one.partitions == three.partitions == every.partitions == 18
    assert (one.tasks, three.tasks, every.tasks) == (1, 3, 18)

"""``run_available_now_to_parquet`` reads its sink back with the schema
it wrote (data columns, then partition columns) instead of inferring
it: the same schema and the same rows as an inferring read, for the
partitioned silver sink and the r1 dedup sink."""

import os

from etl_mp_transactions_spark.sources.bronze import build_bronze
from etl_mp_transactions_spark.streaming.filesource import (
    stage_events_as_files,
    stream_dedup_run,
)
from etl_mp_transactions_spark.streaming.silver_stream import run_silver_stream
from tests.test_silver_stream import _kv_rows


def _rows(df):
    if "metadata" in df.columns:
        return _kv_rows(df)
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _same_as_inferring_read(spark, out, out_dir):
    inferred = spark.read.parquet(out_dir)
    assert out.schema == inferred.schema
    assert _rows(out) == _rows(inferred)


def test_partitioned_silver_sink(spark, sf_dir, tmp_path):
    bronze_dir = str(tmp_path / "bronze")
    build_bronze(spark, sf_dir).limit(200).repartition(2).write.parquet(bronze_dir)
    silver_dir = str(tmp_path / "silver")
    out = run_silver_stream(
        spark, bronze_dir, spark.read.parquet(bronze_dir).schema,
        str(tmp_path / "ckpt"), silver_dir, max_files_per_trigger=1,
    )
    assert any(d.startswith("company_id=") for d in os.listdir(silver_dir))
    assert out.columns[-1] == "company_id"
    _same_as_inferring_read(spark, out, silver_dir)


def test_r1_dedup_sink(spark, sf_dir, tmp_path):
    stage = stage_events_as_files(spark, sf_dir, str(tmp_path / "in"), n_files=2)
    for watermark in (False, True):
        out_dir = str(tmp_path / f"out_{watermark}")
        out = stream_dedup_run(
            spark, stage, str(tmp_path / f"ckpt_{watermark}"), out_dir,
            within_watermark=watermark,
        )
        _same_as_inferring_read(spark, out, out_dir)

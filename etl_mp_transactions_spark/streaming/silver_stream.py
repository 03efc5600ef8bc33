"""Streaming silver: the production path composed end-to-end
(SURVEY.md §3.1 re-expressed) — nested bronze files arrive in a
watched directory (the GCS bucket analog), each micro-batch runs the
SAME silver transform as batch mode, exactly-once on checksum, into
the partitioned silver sink.

One definition of the transform serves batch and streaming — the
DataFrame plan is identical; only the source/sink bindings change.
That is the engineering point the reference misses by hand-rolling an
HTTP-event loop: its per-file pipeline is this stream with
maxFilesPerTrigger=1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_mp_transactions_spark.operators.silver import silver_transactions
from etl_mp_transactions_spark.streaming.filesource import (
    run_available_now_to_parquet,
    scaled_state_partitions,
    stream_files_available_now,
)


def run_silver_stream(
    spark: SparkSession,
    bronze_dir: str,
    bronze_schema,
    checkpoint_dir: str,
    out_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """One AvailableNow pass: bronze files → silver → dedup(checksum)
    → partitioned parquet. Returns the accumulated silver table."""
    bronze = stream_files_available_now(
        spark, bronze_dir, bronze_schema, max_files_per_trigger
    )
    silver = silver_transactions(bronze).dropDuplicates(["checksum"])
    # state partitions sized from the staged bronze (fixed at first
    # start), the sink's tasks from the bytes one trigger reads
    with scaled_state_partitions(spark, bronze_dir, max_files_per_trigger) as parts:
        return run_available_now_to_parquet(
            silver.coalesce(parts.tasks), checkpoint_dir, out_dir,
            partition_by=["company_id"],
        )

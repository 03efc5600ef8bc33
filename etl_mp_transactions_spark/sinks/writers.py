"""Sinks (SURVEY.md §2.1 K1-K3).

K1 — the reference's BigQuery silver insert is a stub (``etl/loads/
bigquery.py:1``); the engine's real equivalent is a partitioned
parquet append, partitioned the way the bronze path is laid out
(company_id/year/month/day) so downstream partition pruning works.

K2 — the Pub/Sub load (``etl/loads/pubsub.py:9-42``): per-row drop of
internal columns + metadata map→JSON + publish. The projection/
serialization is `pubsub_shape`; delivery is a file sink here (no
message bus in this environment) — on a cluster swap `write_json_
messages` for `writeStream.format("kafka")` / foreachBatch publisher,
the shape is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_silver_partitioned(df: DataFrame, path: str, mode: str = "append") -> None:
    """K1: silver table append, Hive-partitioned for pruning.

    Scale notes: partition columns are low-cardinality (company × date)
    which keeps file counts sane; within a partition Spark writes one
    file per task — repartition on the partition columns first when a
    batch spans many partitions, so each partition's rows land in few
    files instead of tasks × partitions fragments."""
    # try_to_date: transaction_date keeps unparseable originals by
    # design (C2 passthrough) — those rows land in the null partition
    # (__HIVE_DEFAULT_PARTITION__), the quarantine bucket
    (
        df.withColumn("year", F.year(F.try_to_date("transaction_date")))
        .withColumn("month", F.month(F.try_to_date("transaction_date")))
        .repartition("company_id", "year", "month")
        .write.mode(mode)
        .partitionBy("company_id", "year", "month")
        .parquet(path)
    )


def pubsub_shape(df: DataFrame) -> DataFrame:
    """K2 projection: drop internal columns, render metadata map as a
    JSON object inside the message, serialize the row to one JSON
    string column (etl/loads/pubsub.py:27-40)."""
    cols = [c for c in df.columns if c not in ("created_at", "etl_checksum")]
    return df.select(*cols).select(
        F.to_json(F.struct(*cols)).alias("message")
    )


def write_json_messages(df: DataFrame, path: str, mode: str = "append") -> None:
    """K2 delivery stand-in: newline-delimited JSON messages to files.

    The reference's client batches ≤1MB/0.1s/500 msgs (src/pubsub.py:
    8-12); the file-sink analog of that knob is rows-per-file:
    maxRecordsPerFile bounds message-batch size per output file."""
    df.write.mode(mode).option("maxRecordsPerFile", 500).text(path) if (
        df.columns == ["message"]
    ) else df.write.mode(mode).json(path)


def compact_small_files(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
) -> int:
    """Small-file compaction — the maintenance op every long-running
    ingest needs (streaming/per-file micro-batches accrete one file
    per trigger; thousands of KB-files make listing and scan task
    startup the bottleneck long before I/O does).

    Rewrites the directory into ceil(total_bytes / target) files via a
    round-robin repartition (no shuffle key — pure size balancing; a
    sorted layout would use repartitionByRange instead). The rewrite
    goes to a staging dir first, then swaps — readers never observe a
    half-compacted table. Returns the new file count, or 0 if the
    directory is already compact.

    At scale this runs per-partition (compact yesterday's partition,
    never the live one) so the rewrite unit is bounded and the swap is
    one partition directory at a time."""
    import math
    import os
    import shutil

    files = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    if len(files) < min_files_to_compact:
        return 0
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    if n_out >= len(files):
        return 0
    df = spark.read.parquet(path)
    compacted = path.rstrip("/") + ".compact-staging"
    df.repartition(n_out).write.mode("overwrite").parquet(compacted)
    old = path.rstrip("/") + ".compact-old"
    os.rename(path, old)
    os.rename(compacted, path)
    shutil.rmtree(old)
    return n_out

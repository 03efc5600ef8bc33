"""Correctness checks: exact-value oracle comparison once per process,
then a cheap fingerprint on every timed call.

The fingerprint of a frame is its row count plus the sum of
``xxhash64`` over every row, summed as DECIMAL(38,0) so it cannot
overflow. A sum changes when a row's multiplicity changes; a
``bit_xor`` of the same hashes would cancel a duplicated pair.
"""

from __future__ import annotations

import os

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_mp_transactions_spark.sources.tables import TABLE_NAMES
from oracle_compare import compare


def fingerprint_frame(df: DataFrame) -> DataFrame:
    """One-row aggregate ``(n, h)`` over every column of ``df``."""
    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("h"),
    )


def collect_fingerprint(fp_df: DataFrame) -> tuple[int, int]:
    row = fp_df.collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def fingerprint(df: DataFrame) -> tuple[int, int]:
    return collect_fingerprint(fingerprint_frame(df))


def metadata_kv(df: DataFrame) -> DataFrame:
    """Render the silver ``metadata`` map as the sorted ``k=v;k=v``
    string the flagship oracle emits."""
    entries = F.transform(
        F.map_entries("metadata"), lambda e: F.concat(e.key, F.lit("="), e.value)
    )
    return df.withColumn(
        "metadata_kv", F.array_join(F.array_sort(entries), ";")
    ).drop("metadata")


class Oracle:
    """DuckDB over the generated tables; ``check`` returns the list of
    differences between a Spark result and the oracle SQL (empty when
    they match exactly)."""

    def __init__(self, sf_dir: str, tmp_dir: str):
        self.con = duckdb.connect()
        self.con.sql("SET memory_limit = '1GB'")
        self.con.sql("SET threads = 2")
        self.con.sql(f"SET temp_directory = '{tmp_dir}'")
        for t in TABLE_NAMES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    def check(self, df: DataFrame, sql: str) -> list[str]:
        return compare(df.toPandas(), self.con.sql(sql).df())

    def close(self) -> None:
        self.con.close()

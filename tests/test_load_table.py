"""``load_table`` and ``staged_bronze`` read with declared schemas: the
same columns and types as an inferring read, no Spark job per read, and
schema drift caught from the parquet footer before Spark is asked."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_mp_transactions_spark.sources.bronze import staged_bronze, staged_bronze_path
from etl_mp_transactions_spark.sources.tables import TABLE_NAMES, load_table


def _jobs_during(spark, fn):
    """(fn's result, the Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"load_table_test_{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_tables_match_inferring_read_and_run_no_job(spark, sf_dir):
    for name in TABLE_NAMES:
        df, jobs = _jobs_during(spark, lambda: load_table(spark, sf_dir, name))
        assert jobs == [], name
        inferred = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        assert df.dtypes == inferred.dtypes, name


@pytest.mark.parametrize(
    "change",
    [
        lambda t: t.drop_columns(["n_regionkey"]),
        lambda t: t.set_column(2, "n_regionkey", t["n_regionkey"].cast(pa.int64())),
    ],
    ids=["missing_column", "wrong_type"],
)
def test_drift_raises_before_any_job(spark, sf_dir, tmp_path, change):
    table = change(pq.read_table(os.path.join(sf_dir, "nation.parquet")))
    pq.write_table(table, os.path.join(tmp_path, "nation.parquet"))

    def load():
        with pytest.raises(ValueError, match="schema drift for nation"):
            load_table(spark, str(tmp_path), "nation")

    _, jobs = _jobs_during(spark, load)
    assert jobs == []


def test_nanos_events_read_as_micros(spark, sf_dir, tmp_path):
    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    i = table.schema.get_field_index("ts")
    pq.write_table(
        table.set_column(i, "ts", table["ts"].cast(pa.timestamp("ns"))),
        os.path.join(tmp_path, "events.parquet"),
    )
    nanos = load_table(spark, str(tmp_path), "events")
    micros = load_table(spark, sf_dir, "events")
    assert nanos.dtypes == micros.dtypes
    assert nanos.count() == micros.count()
    assert nanos.exceptAll(micros).count() == 0


def test_staged_bronze_schema_is_the_files(spark, sf_dir):
    inferred = spark.read.parquet(staged_bronze_path(spark, sf_dir)).schema
    assert staged_bronze(spark, sf_dir).schema == inferred

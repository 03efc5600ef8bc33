"""literal_frame: JVM-backed literal frames, including the empty frame
the streaming runners use for "nothing seen yet"."""

import pathlib
import re

from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from etl_mp_transactions_spark.functions.literalframe import literal_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "etl_mp_transactions_spark"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_empty_frame_keeps_declared_schema(spark):
    st = StructType([
        StructField("id", LongType(), False),
        StructField("name", StringType(), True),
        StructField("vec", ArrayType(DoubleType(), False), True),
        StructField("tags", MapType(StringType(), StringType(), True), False),
        StructField("amount", DecimalType(38, 0), True),
        StructField("ts", TimestampNTZType(), True),
    ])
    df = literal_frame(spark, [], st)
    # names, types and nullability, nested element nullability included
    assert df.schema == st
    assert df.count() == 0

    ddl = literal_frame(spark, [], "ch string, n long")
    assert ddl.schema == spark.createDataFrame([], "ch string, n long").schema


def test_empty_frame_runs_no_python_rdd(spark):
    df = literal_frame(spark, [], "ch string")
    plan = _executed_plan(df)
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan
    # the pickled-row path this replaces plans a Python-RDD scan
    assert "ExistingRDD" in _executed_plan(spark.createDataFrame([], "ch string"))

    # usable where the streaming runners use it: the anti-join side
    keys = spark.range(3).selectExpr("cast(id as string) AS ch")
    assert keys.join(df, "ch", "left_anti").count() == 3


def test_nonempty_frame_matches_create_dataframe(spark):
    rows = [(1, "a"), (2, None)]
    df = literal_frame(spark, rows, "k long, v string")
    assert df.schema == spark.createDataFrame(rows, "k long, v string").schema
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, None)]
    assert "ExistingRDD" not in _executed_plan(df)


def test_package_builds_no_pickled_empty_frames():
    pattern = re.compile(r"createDataFrame\(\s*\[\s*\]")
    hits = [
        f"{p.relative_to(PACKAGE)}:{n}"
        for p in sorted(PACKAGE.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not hits, f"use literal_frame(spark, [], schema): {hits}"

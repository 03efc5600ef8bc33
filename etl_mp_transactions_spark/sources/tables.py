"""Typed loaders for the driver-generated parquet tables (TESTDATA.md).

Parquet is self-describing, so reads never infer from data; the schemas
below are the *contract* — ``load_table`` validates what the file's
footer declares against what the engine expects, failing fast on drift
instead of silently mis-typing (the reference's dynamic dicts defaulted
missing fields to '' — see SURVEY.md §1.3; we eliminate that class by
checking).

Scale note: these are plain columnar scans. Filters/projections applied
by callers reach the parquet reader via Catalyst (PushedFilters /
ReadSchema) — at 100 TB the scan only materializes referenced columns
and pruned row groups.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Expected logical schemas (name -> (field, type) pairs, nullable).
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            # TIMESTAMP(NANOS) in some files → read as long, converted in load_table
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def _footer_schema(path: str):
    """The Arrow schema in the parquet footer of ``path``, or of the
    first data file under it when it is a directory of part files (the
    file Spark's own inference would read)."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        path = min(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return pq.read_schema(path)


def _spark_type(arrow_type) -> str:
    from pyspark.sql.pandas.types import from_arrow_type

    try:
        # parquet timestamps without a UTC adjustment read as NTZ
        return from_arrow_type(arrow_type, prefer_timestamp_ntz=True).simpleString()
    except TypeError:
        return str(arrow_type)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, asserting the schema contract.

    The contract is checked against the parquet footer on the driver
    and the table is read with its declared schema, so a read runs no
    Spark job (an inferring ``spark.read.parquet`` runs one per call).
    Drift (a missing column or a changed type) raises ``ValueError``.

    Defensive against externally-created sessions (the driver passes
    its own): when ``events.ts`` is TIMESTAMP(NANOS) the nanos-parquet
    conf is set here, and the nanos→ntz conversion is pure NTZ
    arithmetic — no instant/LTZ hop, so the result is identical under
    any session timezone.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    footer = _footer_schema(path)
    schema = SCHEMAS[name]
    # TIMESTAMP(NANOS), which the vectorized reader rejects unless
    # read as long (runtime-settable conf)
    nanos = name == "events" and "ts" in footer.names and (
        str(footer.field("ts").type) == "timestamp[ns]"
    )
    actual = {(f.name, _spark_type(f.type)) for f in footer}
    expected = {(f.name, f.dataType.simpleString()) for f in schema.fields}
    if not expected <= actual:
        raise ValueError(
            f"schema drift for {name}: missing {sorted(expected - actual)}; "
            f"file has {sorted(actual)}"
        )
    if not nanos:
        return spark.read.schema(schema).parquet(path)
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = T.StructType(
        [T.StructField("ts", T.LongType()) if f.name == "ts" else f for f in schema.fields]
    )
    # integer `div` (a double intermediate loses µs precision at
    # nanos-since-epoch magnitudes); timestampadd on an NTZ epoch
    # base keeps the wall-clock independent of session timezone
    return spark.read.schema(schema).parquet(path).withColumn(
        "ts",
        F.expr(
            "timestampadd(MICROSECOND, ts div 1000,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        ),
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

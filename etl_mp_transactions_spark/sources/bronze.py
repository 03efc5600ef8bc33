"""Bronze-shaped nested fixture built deterministically from testdata.

The reference's bronze table (``/root/reference/etl/extraction/bigquery.py:20-45``)
is a nested ARRAY<STRUCT> shape: payload[] → header + lines[] →
metadata[] key/value pairs, plus Hive partition columns. TESTDATA.md
ships flat TPC-H-ish tables, so this module *constructs* the nested
shape from ``orders`` ⋈ ``lineitem`` with pure DataFrame ops — every
value is a deterministic function of the input keys, which lets the
DuckDB oracle reproduce the flattened result from the flat tables
directly.

Fixture shape (FIXTURES.md §1): one bronze row per order; one payload
entry; 1..N lines (the order's lineitems); 0..2 metadata pairs per line
(l_linenumber % 3 — the 0 case exercises empty-array semantics, SURVEY
§2 J3); line dates rendered in 5 wire formats (l_linenumber % 5,
including the unparseable US format); header report_date in 2 formats
(o_orderkey % 2).

Scale note: the single shuffle here is the groupBy(l_orderkey) that
nests lines; at 100 TB the real bronze would arrive already nested from
the source (no shuffle at all) — the flatten side (operators/flatten.py)
is the scale path and is shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_mp_transactions_spark.functions.checksums import line_checksum
from etl_mp_transactions_spark.functions.dates import render_date_mixed_format
from etl_mp_transactions_spark.sources.tables import load_table

_CURRENCIES = ["EUR", "MXN", "USD", "GBP", "BRL"]


def build_bronze(
    spark: SparkSession, sf_dir: str, orders: DataFrame | None = None, lineitem: DataFrame | None = None
) -> DataFrame:
    """Nested bronze_transactions DataFrame from orders ⋈ lineitem."""
    if orders is None:
        orders = load_table(spark, sf_dir, "orders")
    if lineitem is None:
        lineitem = load_table(spark, sf_dir, "lineitem")

    li = lineitem.select(
        "l_orderkey",
        F.struct(
            line_checksum("l_orderkey", "l_linenumber").alias("checksum"),
            render_date_mixed_format(
                "l_shipdate", F.col("l_linenumber") % 5
            ).alias("date"),
            F.concat(
                F.col("l_returnflag"),
                F.lit(" "),
                F.col("l_linestatus"),
                F.lit(" part "),
                F.col("l_partkey").cast("string"),
            ).alias("concept"),
            F.col("l_extendedprice").alias("amount"),
            F.col("l_quantity").alias("remaining"),
            _metadata_array().alias("metadata"),
        ).alias("line"),
    )
    # order of lines inside an order is part of the fixture contract
    # (sort_array on linenumber-prefixed structs would disturb field
    # order; checksum leads, and md5('<ok>-<ln>') sorts arbitrarily but
    # deterministically — flatten output is order-insensitive anyway).
    nested_lines = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("line")).alias("lines")
    )

    # no broadcast hint here: orders scales with the input (one row per
    # order), so forcing it would hit the 8GB broadcast wall at large
    # SFs — let AQE pick broadcast when the filtered side happens to be
    # small and SMJ otherwise
    bronze = (
        orders.join(nested_lines, orders.o_orderkey == nested_lines.l_orderkey, "inner")
        .select(
            F.concat(F.lit("user-"), F.col("o_custkey").cast("string")).alias("userId"),
            _company_id().alias("companyId"),
            F.array(
                F.struct(
                    F.struct(
                        F.concat(F.lit("ACC"), F.col("o_custkey").cast("string")).alias(
                            "account_number"
                        ),
                        F.concat(
                            F.lit("alias-"), (F.col("o_custkey") % 100).cast("string")
                        ).alias("account_alias"),
                        _currency().alias("currency"),
                        F.col("o_orderpriority").alias("timeframe"),
                        F.when(
                            F.col("o_orderkey") % 2 == 0,
                            F.date_format("o_orderdate", "yyyy-MM-dd"),
                        )
                        .otherwise(F.date_format("o_orderdate", "dd/MM/yyyy"))
                        .alias("report_date"),
                        F.concat(
                            F.lit("BANK-"), (F.col("o_orderkey") % 5).cast("string")
                        ).alias("bank"),
                        F.col("o_orderdate").alias("extraction_timestamp"),
                    ).alias("header"),
                    F.col("lines"),
                )
            ).alias("payload"),
            F.year("o_orderdate").alias("year"),
            F.month("o_orderdate").alias("month"),
            F.dayofmonth("o_orderdate").alias("day"),
            _company_id().alias("company_id"),
        )
    )
    return bronze


# bump when the fixture derivation above changes — the staged parquet
# cache below is keyed by it (v2: completeness marked by _DONE)
_BRONZE_FIXTURE_VERSION = "v2"
# the staged parquet's schema, declared so a read runs no inference
# job (analyzing build_bronze for it costs more than inferring);
# tests/test_load_table.py pins it against the inferring read
_BRONZE_DDL = (
    "userId STRING, companyId STRING, payload ARRAY<STRUCT<"
    "header: STRUCT<account_number: STRING, account_alias: STRING,"
    " currency: STRING, timeframe: STRING, report_date: STRING,"
    " bank: STRING, extraction_timestamp: TIMESTAMP_NTZ>,"
    " lines: ARRAY<STRUCT<checksum: STRING, date: STRING, concept: STRING,"
    " amount: DOUBLE, remaining: DOUBLE,"
    " metadata: ARRAY<STRUCT<key: STRING, value: STRING>>>>>>,"
    " year INT, month INT, day INT, company_id STRING"
)


def staged_bronze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bronze fixture as a *staged nested parquet* — the realistic
    input shape (at 100 TB bronze arrives already nested from the
    source; nobody re-derives it per query). Built once per
    (SF, fixture-version) on this machine, then every consumer —
    flagship silver, s2 raw scan, the driver's repeated correctness
    runs, bench — is a pure scan→flatten pipeline with the nesting
    shuffle paid zero times, not once per query run.

    Concurrency-safe publish through ``workdirs.publish_fixture``; a
    concurrent loser reads the winner's copy. Content is a pure
    function of (orders, lineitem), so any published copy is
    identical."""
    return spark.read.schema(_BRONZE_DDL).parquet(staged_bronze_path(spark, sf_dir))


def staged_bronze_path(spark: SparkSession, sf_dir: str) -> str:
    """Publish (if absent) and return the staged bronze parquet path —
    for consumers that need the path itself (the declarative pipeline
    spec binds it as the extraction param)."""
    import os
    import tempfile

    from etl_mp_transactions_spark.workdirs import publish_fixture

    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return publish_fixture(
        os.path.join(
            tempfile.gettempdir(),
            f"sg_bronze_{_BRONZE_FIXTURE_VERSION}_{sf_tag}",
        ),
        lambda staging: build_bronze(spark, sf_dir)
        .write.mode("overwrite")
        .parquet(staging),
    )


def _company_id():
    return F.concat(F.lit("comp-"), (F.col("o_custkey") % 10).cast("string"))


def _currency():
    idx = (F.col("o_orderkey") % len(_CURRENCIES)).cast("int")
    return F.array(*[F.lit(c) for c in _CURRENCIES])[idx]


def _metadata_array():
    """0/1/2 key-value pairs keyed on l_linenumber % 3 (empty exercises J3)."""
    kv = lambda k, v: F.struct(F.lit(k).alias("key"), v.alias("value"))  # noqa: E731
    empty = F.array().cast("array<struct<key:string,value:string>>")
    one = F.array(kv("rf", F.col("l_returnflag")))
    two = F.array(
        kv("rf", F.col("l_returnflag")), kv("ls", F.col("l_linestatus"))
    )
    m = F.col("l_linenumber") % 3
    return F.when(m == 0, empty).when(m == 1, one).otherwise(two)

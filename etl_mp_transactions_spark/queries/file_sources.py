"""File-format source breadth (SURVEY.md §2.1 S-family widening):
CSV, JSON-lines, and ORC scans.

The reference ingests BigQuery extracts and Avro blobs; a Spark
deployment of the same pipeline also meets CSV/JSONL drops and ORC
lakes. Each query stages the orders table into the format under test
(Spark executors write — no driver collect; staged once per
(format, SF) per machine into an immutable cache dir published by
workdirs.publish_fixture, so gate/bench sweeps
neither leak temp copies nor re-pay the write), reads it back with an
explicit schema, and runs a projection+filter whose oracle is the
same expression over the canonical parquet view — so the check proves
the full write→read round trip preserves values.

Parity notes: o_orderdate is midnight TIMESTAMP_NTZ and o_totalprice
is a 2-decimal double, both of which round-trip text formats exactly;
the NTZ format string is pinned (no [.SSS] optional-fraction drift).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from etl_mp_transactions_spark.registry import query
from etl_mp_transactions_spark.sources.tables import load_table

_ORDERS_DDL = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
)
_NTZ_FMT = "yyyy-MM-dd HH:mm:ss"

_SCAN_ORACLE = """
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders
    WHERE o_totalprice > 150000.0
    """


# bump when any staging layout below changes (cache key component)
_STAGE_VERSION = "v1"


def _cached_stage(spark, sf_dir: str, tag: str, build) -> str:
    """Immutable staged fixture keyed by (tag, SF, version), built
    once per machine by ``workdirs.publish_fixture``. Repeated
    gate/bench sweeps pay the staging write zero times instead of
    once per run, and nothing leaks: there is exactly one cached copy
    per key. ``build(df_orders, out_path)`` performs the distributed
    write into ``out_path``."""
    from etl_mp_transactions_spark.workdirs import publish_fixture

    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    target = publish_fixture(
        os.path.join(
            tempfile.gettempdir(), f"sg_stage_{_STAGE_VERSION}_{tag}_{sf_tag}"
        ),
        lambda staging: build(
            load_table(spark, sf_dir, "orders"),
            os.path.join(staging, "orders"),
        ),
    )
    return os.path.join(target, "orders")


def _stage(spark, sf_dir: str, fmt: str, writer_opts: dict) -> str:
    opt_tag = "_".join(
        f"{k}-{v}" for k, v in sorted(writer_opts.items())
        if k != "timestampNTZFormat"
    )
    tag = f"{fmt}_{opt_tag}" if opt_tag else fmt

    def build(orders, out):
        (
            orders.repartition(4)
            .write.options(**writer_opts)
            .format(fmt)
            .mode("overwrite")
            .save(out)
        )

    return _cached_stage(spark, sf_dir, tag, build)


def _project(df):
    return df.filter(F.col("o_totalprice") > 150000.0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )


@query("s6_csv_scan", _SCAN_ORACLE)
def s6_csv_scan(spark, sf_dir):
    """CSV source scan. Explicit schema (no inference pass — a second
    full read at 100 TB), pinned NTZ timestamp format, header files.
    The totalprice filter reaches the CSV scan as a data filter;
    unlike parquet there are no stats to prune with — the docstring
    point of this query is that format choice changes scan cost, not
    semantics."""
    path = _stage(
        spark, sf_dir, "csv",
        {"header": "true", "timestampNTZFormat": _NTZ_FMT},
    )
    df = (
        spark.read.schema(_ORDERS_DDL)
        .options(header="true", timestampNTZFormat=_NTZ_FMT)
        .csv(path)
    )
    return _project(df)


@query("s7_jsonl_scan", _SCAN_ORACLE)
def s7_jsonl_scan(spark, sf_dir):
    """JSON-lines source scan: one JSON object per line, splittable,
    schema-on-read with an explicit schema (inference at scale costs
    a full extra pass and types drift per file)."""
    path = _stage(spark, sf_dir, "json", {"timestampNTZFormat": _NTZ_FMT})
    df = (
        spark.read.schema(_ORDERS_DDL)
        .options(timestampNTZFormat=_NTZ_FMT)
        .json(path)
    )
    return _project(df)


@query("s8_orc_scan", _SCAN_ORACLE)
def s8_orc_scan(spark, sf_dir):
    """ORC source scan — the columnar alternative lake format; stats-
    based row-group pruning and predicate pushdown work as in parquet
    (the filter appears as PushedFilters in the scan node)."""
    path = _stage(spark, sf_dir, "orc", {})
    df = spark.read.orc(path)
    return _project(df)


_FW_WIDTHS = (12, 1, 12, 19)  # orderkey, status, price-cents, ntz date


@query("s9_fixed_width_scan", _SCAN_ORACLE)
def s9_fixed_width_scan(spark, sf_dir):
    """Fixed-width text source scan — the mainframe-extract format
    every bank ETL eventually meets (the reference's domain is bank
    transaction files, SURVEY.md §1). Staging renders each order as a
    44-char record (zero-padded orderkey and price-cents, pinned NTZ
    date) with a distributed write.text; the read side is
    spark.read.text + substring/cast parsing — all expression-level,
    so Catalyst prunes and the text scan stays splittable by line.
    Money crosses the format as exact integer cents: cents/100.0
    re-yields the canonical 2-decimal double bit-for-bit (nearest-
    double of k/100 both ways)."""
    w1, w2, w3, w4 = _FW_WIDTHS

    def build(orders, out):
        orders.select(
            F.concat(
                F.lpad(F.col("o_orderkey").cast("string"), w1, "0"),
                F.col("o_orderstatus"),
                F.lpad(
                    F.round(F.col("o_totalprice") * 100, 0)
                    .cast("bigint")
                    .cast("string"),
                    w3,
                    "0",
                ),
                F.date_format(F.col("o_orderdate"), _NTZ_FMT),
            ).alias("value")
        ).repartition(4).write.mode("overwrite").text(out)

    path = _cached_stage(spark, sf_dir, "fixedwidth", build)
    lines = spark.read.text(path)
    p1, p2, p3 = 1, 1 + w1, 1 + w1 + w2
    p4 = 1 + w1 + w2 + w3
    df = lines.select(
        F.substring("value", p1, w1).cast("bigint").alias("o_orderkey"),
        F.substring("value", p2, w2).alias("o_orderstatus"),
        (
            F.substring("value", p3, w3).cast("bigint") / F.lit(100.0)
        ).alias("o_totalprice"),
        F.to_timestamp_ntz(
            F.substring("value", p4, w4), F.lit(_NTZ_FMT)
        ).alias("o_orderdate"),
    )
    return _project(df)


@query("s11_xml_scan", _SCAN_ORACLE)
def s11_xml_scan(spark, sf_dir):
    """XML source scan — Spark 4 ships the (ex spark-xml) source
    built-in, reader AND writer. Staging uses the native rowTag/
    rootTag writer (distributed; each task frames its own file with
    the root element — a bare write.text of <o> lines fails because
    the tag parser needs a rooted document and silently drops
    records). Values cross the format as pre-rendered strings: money
    as exact integer cents (the s9 trick), the NTZ timestamp as the
    pinned format string — so the only XML-layer types are string/
    long, the ones the format round-trips exactly. At 100 TB the
    guidance this query carries: XML parse cost is per-byte CPU with
    no column pruning or pushdown — land it once, convert to parquet,
    never re-scan."""
    def build(orders, out):
        (
            orders.select(
                F.col("o_orderkey").alias("k"),
                F.col("o_orderstatus").alias("s"),
                F.round(F.col("o_totalprice") * 100, 0)
                .cast("bigint")
                .alias("c"),
                F.date_format(F.col("o_orderdate"), _NTZ_FMT).alias("d"),
            )
            .repartition(4)
            .write.option("rowTag", "o")
            .option("rootTag", "orders")
            .mode("overwrite")
            .xml(out)
        )

    path = _cached_stage(spark, sf_dir, "xml", build)
    raw = (
        spark.read.option("rowTag", "o")
        .schema("k long, s string, c long, d string")
        .xml(path)
    )
    df = raw.select(
        F.col("k").alias("o_orderkey"),
        F.col("s").alias("o_orderstatus"),
        (F.col("c") / F.lit(100.0)).alias("o_totalprice"),
        F.to_timestamp_ntz(F.col("d"), F.lit(_NTZ_FMT)).alias(
            "o_orderdate"
        ),
    )
    return _project(df)


@query("s10_gzip_jsonl_scan", _SCAN_ORACLE)
def s10_gzip_jsonl_scan(spark, sf_dir):
    """GZIP-compressed JSON-lines source scan — the most common
    "vendor drop" format. Spark's text-based sources decompress
    codec-suffixed files transparently; the cost model point this
    query carries: gzip is NOT splittable, so one .gz file = one
    task regardless of size — the staging writes 4 files so the read
    still parallelizes by FILE (the operational guidance for 100 TB:
    many medium .gz files or a splittable codec, never one giant
    archive). Values round-trip exactly as in s7 (same NTZ pin)."""
    path = _stage(
        spark, sf_dir, "json",
        {"timestampNTZFormat": _NTZ_FMT, "compression": "gzip"},
    )
    df = (
        spark.read.schema(_ORDERS_DDL)
        .options(timestampNTZFormat=_NTZ_FMT)
        .json(path)
    )
    return _project(df)


@query(
    "s12_csv_quarantine",
    """
    WITH rows AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderstatus,
             (o_orderkey % 97 = 0) AS bad
      FROM orders
    )
    SELECT o_orderkey,
           CASE WHEN bad THEN NULL ELSE cents / 100.0 END
             AS o_totalprice,
           o_orderstatus,
           bad AS is_quarantined,
           CASE WHEN bad THEN CAST(o_orderkey AS VARCHAR) || ',N/A,'
                              || o_orderstatus END AS corrupt_raw
    FROM rows
    """,
)
def s12_csv_quarantine(spark, sf_dir):
    """Malformed-row quarantine on a CSV source — the ingest surface
    every bank-file pipeline needs (the reference's domain is vendor
    transaction files; its parse failures passthrough per-FIELD, C2).
    Staging corrupts the numeric field of every 97th order ('N/A'
    where cents belong); the read is schema'd PERMISSIVE with
    ``columnNameOfCorruptRecord``, whose exact semantics this oracle
    pins (verified empirically): a malformed FIELD nulls that column
    only — other columns of the row still parse — and the raw line
    lands in the corrupt-record column for quarantine routing. At
    100 TB this is the zero-extra-pass quarantine: good rows and the
    dead-letter stream come out of ONE scan (vs. DROPMALFORMED +
    a second scan to find the bad rows). Money crosses as exact
    integer cents (the s9 trick)."""
    def build(orders, out):
        (
            orders.select(
                F.concat(
                    F.col("o_orderkey").cast("string"),
                    F.lit(","),
                    F.when(
                        F.col("o_orderkey") % 97 == 0, F.lit("N/A")
                    ).otherwise(
                        F.round(F.col("o_totalprice") * 100, 0)
                        .cast("bigint")
                        .cast("string")
                    ),
                    F.lit(","),
                    F.col("o_orderstatus"),
                ).alias("value")
            )
            .repartition(4)
            .write.mode("overwrite")
            .text(out)
        )

    path = _cached_stage(spark, sf_dir, "csvq", build)
    raw = (
        spark.read.schema(
            "o_orderkey long, cents long, o_orderstatus string,"
            " _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    return raw.select(
        "o_orderkey",
        (F.col("cents") / F.lit(100.0)).alias("o_totalprice"),
        "o_orderstatus",
        F.col("_corrupt_record").isNotNull().alias("is_quarantined"),
        F.col("_corrupt_record").alias("corrupt_raw"),
    )

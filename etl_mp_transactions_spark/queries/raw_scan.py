"""S2: the raw-variant scan (src/bigquery.py:6-28) — the 7-column,
2-level-UNNEST projection without metadata. Same flatten machinery as
S1 with a narrower select; the nested-schema pruner drops the unread
metadata subtree at the scan."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_mp_transactions_spark.registry import query
from etl_mp_transactions_spark.sources.bronze import staged_bronze


@query(
    "s2_raw_scan",
    """
    SELECT md5(o.o_orderkey || '-' || l.l_linenumber) AS checksum,
           CASE l.l_linenumber % 5
             WHEN 0 THEN strftime(l.l_shipdate, '%Y-%m-%d')
             WHEN 1 THEN strftime(l.l_shipdate, '%d-%m-%Y')
             WHEN 2 THEN strftime(l.l_shipdate, '%Y/%m/%d')
             WHEN 3 THEN strftime(l.l_shipdate, '%d/%m/%Y')
             ELSE strftime(l.l_shipdate, '%m/%d/%Y') END AS date,
           l.l_returnflag || ' ' || l.l_linestatus || ' part ' || l.l_partkey AS concept,
           l.l_extendedprice AS amount,
           l.l_quantity AS remaining,
           'ACC' || o.o_custkey AS account_number,
           'comp-' || (o.o_custkey % 10) AS company_id
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    """,
)
def s2_raw_scan(spark, sf_dir):
    """2-level flatten + 7-column projection (no metadata read)."""
    bronze = staged_bronze(spark, sf_dir)
    p = bronze.select("company_id", F.explode("payload").alias("p"))
    lines = p.select(
        "company_id",
        F.col("p.header.account_number").alias("account_number"),
        F.explode("p.lines").alias("l"),
    )
    return lines.select(
        F.col("l.checksum").alias("checksum"),
        F.col("l.date").alias("date"),
        F.col("l.concept").alias("concept"),
        F.col("l.amount").alias("amount"),
        F.col("l.remaining").alias("remaining"),
        "account_number",
        "company_id",
    )


@query(
    "s3_avro_scan",
    """
    SELECT event_id, user_id, event_type,
           epoch_ns(ts) // 1000 AS ts_us
    FROM events
    """,
)
def s3_avro_scan(spark, sf_dir):
    """S3: Avro file-source scan, runnable without the spark-avro jar.

    Fixture prep (not the operator under test) stages the events table
    into 4 deflate-compressed Avro container files written by the
    spec-subset encoder in sources/avro_py.py; the operator is the
    read path — the `avro_py` Python DataSource decoding one container
    file per partition. Reference parity:
    /root/reference/etl/extraction/avro.py:6-16 (fastavro record scan).
    """
    import os
    import tempfile

    from etl_mp_transactions_spark.functions.dates import ntz_micros
    from etl_mp_transactions_spark.sources.avro import read_avro
    from etl_mp_transactions_spark.sources.avro_py import write_container
    from etl_mp_transactions_spark.sources.tables import load_table
    from etl_mp_transactions_spark.workdirs import publish_fixture

    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    schema = {
        "type": "record",
        "name": "event",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "user_id", "type": "long"},
            {"name": "event_type", "type": ["null", "string"]},
            {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        ],
    }

    def build(staging):
        # distributed fixture write: each task encodes ITS partition to
        # one container file (write-to-temp + atomic rename guards task
        # retries) — no driver-side collect, so staging scales with SF
        # like any other write. Local mode shares one FS; on a cluster
        # `staging` would be shared storage, same code path.
        n_files = 4
        ev = (
            load_table(spark, sf_dir, "events")
            .select("event_id", "user_id", "event_type", "ts")
            .repartition(n_files)
        )

        def _write_part(rows):
            import uuid

            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            tmp = os.path.join(staging, f".part-{pid}.{uuid.uuid4().hex[:8]}.tmp")
            write_container(tmp, schema, (tuple(r) for r in rows))
            os.rename(tmp, os.path.join(staging, f"part-{pid}.avro"))

        ev.foreachPartition(_write_part)

    # immutable machine-level fixture cache (workdirs.publish_fixture,
    # like sources/bronze.staged_bronze): the per-partition pure-Python
    # Avro encode is fixture prep, paid once per (SF, machine), while
    # the operator under test — the DataSource read path — runs fresh
    # every call. Concurrent losers read the winner's identical copy.
    target = publish_fixture(
        os.path.join(tempfile.gettempdir(), f"sg_avro_v1_{sf_tag}"), build
    )

    df = read_avro(spark, target)
    return df.select(
        "event_id", "user_id", "event_type", ntz_micros("ts").alias("ts_us")
    )

"""R17 streaming incremental dedup (streaming/filesource.py
stream_incremental_dedup_run): exactly-once under replay WITHOUT a
transaction log — both sinks overwrite their own batch= partition and
the anti-join excludes the current batch, so reruns recompute
byte-identical partitions."""

import os
import shutil

from pyspark.sql import functions as F

from etl_mp_transactions_spark.sources.tables import load_table
from etl_mp_transactions_spark.streaming.filesource import (
    bootstrap_seen_store,
    stream_incremental_dedup_run,
    write_single_file,
)


def _stage_docs(spark, sf_dir, stage, groups, t0=1700000000):
    docs = load_table(spark, sf_dir, "documents")
    newd = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "g", (F.col("doc_id") / 5).cast("long") % 4
    )
    os.makedirs(stage, exist_ok=True)
    for i, g in enumerate(groups):
        write_single_file(
            newd.filter(F.col("g") == g).drop("g"),
            os.path.join(stage, f"f{g}.parquet"),
            t0 + 10 * i,
        )
    return docs


def _rows(df):
    return sorted((r["ch"], r["canonical_doc_id"]) for r in df.collect())


def test_replayed_file_contributes_zero(spark, sf_dir, tmp_path):
    stage = str(tmp_path / "in")
    docs = _stage_docs(spark, sf_dir, stage, groups=[0, 1])
    store = str(tmp_path / "store")
    bootstrap_seen_store(
        spark,
        docs.filter(F.col("doc_id") % 5 != 0)
        .select(F.md5("text").alias("ch"))
        .distinct(),
        store,
    )
    out1 = _rows(
        stream_incremental_dedup_run(
            spark, stage, str(tmp_path / "ck"), str(tmp_path / "out"), store
        )
    )
    assert len(out1) > 0
    # second availableNow run over a replayed copy of f0: same
    # checkpoint, keys already committed -> zero new rows
    shutil.copy(
        os.path.join(stage, "f0.parquet"),
        os.path.join(stage, "replay.parquet"),
    )
    os.utime(
        os.path.join(stage, "replay.parquet"), (1700000100, 1700000100)
    )
    out2 = _rows(
        stream_incremental_dedup_run(
            spark, stage, str(tmp_path / "ck"), str(tmp_path / "out"), store
        )
    )
    assert out2 == out1


def test_batch_rerun_is_byte_identical(spark, sf_dir, tmp_path):
    """Simulate a foreachBatch replay: wipe the checkpoint so every
    batch id re-runs against the already-committed store. The
    anti-join excludes each batch's own partition, so output and
    store partitions are recomputed identically — the no-ledger
    exactly-once argument, exercised end to end."""
    stage = str(tmp_path / "in")
    docs = _stage_docs(spark, sf_dir, stage, groups=[0, 1, 2])
    store = str(tmp_path / "store")
    bootstrap_seen_store(
        spark,
        docs.filter(F.col("doc_id") % 5 != 0)
        .select(F.md5("text").alias("ch"))
        .distinct(),
        store,
    )
    out_dir = str(tmp_path / "out")
    first = _rows(
        stream_incremental_dedup_run(
            spark, stage, str(tmp_path / "ck1"), out_dir, store
        )
    )
    # fresh checkpoint: batches 0..2 replay over the mutated store
    second = _rows(
        stream_incremental_dedup_run(
            spark, stage, str(tmp_path / "ck2"), out_dir, store
        )
    )
    assert second == first


def test_neardup_index_replay_and_kinds(spark, sf_dir, tmp_path):
    """R18 (stream_neardup_index_run): replayed file contributes
    zero (already-indexed docs are skipped), output kinds are only
    exact_sig/near, and matched ids always precede the doc in
    arrival order (batch g only matches bootstrap or batches < g)."""
    from etl_mp_transactions_spark.streaming.filesource import (
        bootstrap_neardup_index,
        stream_neardup_index_run,
    )

    stage = str(tmp_path / "in")
    docs = _stage_docs(spark, sf_dir, stage, groups=[0, 1])
    index = str(tmp_path / "index")
    bootstrap_neardup_index(
        spark, docs.filter(F.col("doc_id") % 5 != 0), index
    )
    out1 = stream_neardup_index_run(
        spark, stage, str(tmp_path / "ck"), str(tmp_path / "out"), index
    )
    rows1 = sorted(
        (r["doc_id"], r["dup_kind"], r["matched_old_id"])
        for r in out1.collect()
    )
    assert len(rows1) > 0
    assert {k for _, k, _ in rows1} <= {"exact_sig", "near"}
    # replay f0 -> already-indexed docs skipped, zero contribution
    shutil.copy(
        os.path.join(stage, "f0.parquet"),
        os.path.join(stage, "replay.parquet"),
    )
    os.utime(
        os.path.join(stage, "replay.parquet"), (1700000100, 1700000100)
    )
    out2 = stream_neardup_index_run(
        spark, stage, str(tmp_path / "ck"), str(tmp_path / "out"), index
    )
    rows2 = sorted(
        (r["doc_id"], r["dup_kind"], r["matched_old_id"])
        for r in out2.collect()
    )
    assert rows2 == rows1

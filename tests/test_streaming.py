"""Streaming semantics (SURVEY.md §2.7): per-file micro-batches,
exactly-once replay across restarts (checkpoint is the state
contract), watermark windowed aggregation."""

import os
import shutil

import pytest

from etl_mp_transactions_spark.sources.tables import load_table
from etl_mp_transactions_spark.streaming.filesource import (
    stage_events_as_files,
    stream_dedup_run,
    stream_windowed_counts_run,
)


def test_replay_across_restarts_contributes_zero(spark, sf_dir, tmp_path):
    stage = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    stage_events_as_files(spark, sf_dir, stage, n_files=4)
    n_distinct = load_table(spark, sf_dir, "events").select("event_id").distinct().count()

    out_dir = str(tmp_path / "out")
    out1 = stream_dedup_run(spark, stage, ckpt, out_dir)
    assert out1.count() == n_distinct

    # "restart": new query, same checkpoint; replay one file (the
    # duplicated-GCS-notification case)
    part = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))[0]
    shutil.copy(os.path.join(stage, part), os.path.join(stage, "replay.parquet"))
    out2 = stream_dedup_run(spark, stage, ckpt, out_dir)
    # second run sees only the new file; all its keys are duplicates —
    # the accumulated output is unchanged
    assert out2.count() == n_distinct


def test_windowed_counts_match_batch(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    stage = str(tmp_path / "in")
    stage_events_as_files(spark, sf_dir, stage, n_files=2)
    out = stream_windowed_counts_run(spark, stage, str(tmp_path / "ckpt"))
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    got = {(r["window_start"], r["event_type"]): r["n"] for r in out.collect()}
    want = {(r["window_start"], r["event_type"]): r["n"] for r in batch.collect()}
    # AvailableNow emits every finalized window; watermark (2h) holds
    # back only the tail windows newer than max_event_time - 2h
    assert got
    for k, v in got.items():
        assert want[k] == v


def test_upsert_replay_converges_to_same_state(spark, sf_dir, tmp_path):
    """foreachBatch keep-latest merge: replaying an already-seen file
    after a 'restart' (same checkpoint + state dir) must leave the
    state table unchanged — the merge is idempotent max-by."""
    from pyspark.sql import functions as F

    from etl_mp_transactions_spark.streaming.filesource import (
        stream_upsert_latest_run,
    )

    stage = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    stage_events_as_files(spark, sf_dir, stage, n_files=4)

    out1 = stream_upsert_latest_run(spark, stage, ckpt, state)
    snap1 = sorted(
        out1.select("user_id", "event_id", "ts").collect(),
        key=lambda r: r.user_id,
    )
    # per-key uniqueness and newest-wins vs the batch ground truth
    ev = load_table(spark, sf_dir, "events")
    expected = (
        ev.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id")).alias("m"))
        .select("user_id", F.col("m.event_id").alias("event_id"))
    )
    got = {(r.user_id, r.event_id) for r in out1.select("user_id", "event_id").collect()}
    assert got == {(r.user_id, r.event_id) for r in expected.collect()}

    part = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))[0]
    shutil.copy(os.path.join(stage, part), os.path.join(stage, "replay.parquet"))
    out2 = stream_upsert_latest_run(spark, stage, ckpt, state)
    snap2 = sorted(
        out2.select("user_id", "event_id", "ts").collect(),
        key=lambda r: r.user_id,
    )
    assert snap1 == snap2


def test_upsert_survives_a_failed_state_swap(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The keep-latest state swap fails once, at the rename that
    publishes batch 1's state; a restart on the same checkpoint and
    state re-executes batch 1 and must end where one uninterrupted run
    ends. A swap that drops the old state before the new one is
    visible leaves the re-run nothing to merge into, and every key
    whose latest row came in batch 0 is lost."""
    from etl_mp_transactions_spark.streaming.filesource import (
        staged_event_batches_cached,
        stream_upsert_latest_run,
    )

    stage = staged_event_batches_cached(spark, sf_dir, n_batches=4)

    def run(work):
        out = stream_upsert_latest_run(
            spark, stage, str(work / "ckpt"), str(work / "state")
        )
        return sorted(tuple(r) for r in out.collect())

    want = run(tmp_path / "once")

    work = tmp_path / "interrupted"
    state = str(work / "state")
    publishes = []

    def fail_second_publish(real):
        def rename(src, dst, *args, **kwargs):
            if str(dst).startswith(state):
                publishes.append(dst)
                if len(publishes) == 2:
                    raise OSError("state swap of batch 1 interrupted")
            return real(src, dst, *args, **kwargs)

        return rename

    monkeypatch.setattr(os, "rename", fail_second_publish(os.rename))
    monkeypatch.setattr(os, "replace", fail_second_publish(os.replace))
    with pytest.raises(Exception, match="state swap of batch 1 interrupted"):
        run(work)
    monkeypatch.undo()
    assert run(work) == want and want


def test_dedup_within_watermark_branch(spark, sf_dir, tmp_path):
    """The bounded-state dedup variant (dropDuplicatesWithinWatermark):
    previously untested — its missing ntz->timestamp cast before the
    watermark was an ADVICE-r4 latent failure. Duplicates arriving
    within the watermark horizon must still be dropped."""
    stage = str(tmp_path / "in")
    stage_events_as_files(spark, sf_dir, stage, n_files=2)
    n_distinct = (
        load_table(spark, sf_dir, "events").select("event_id").distinct().count()
    )
    part = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))[0]
    shutil.copy(os.path.join(stage, part), os.path.join(stage, "replay.parquet"))
    out = stream_dedup_run(
        spark,
        stage,
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
        within_watermark=True,
    )
    # all events in the fixture span < 1h per file batch relative to the
    # max-seen watermark at the time each duplicate arrives, so the
    # duplicated file contributes zero new event_ids
    assert out.select("event_id").distinct().count() == n_distinct
    assert out.count() == n_distinct

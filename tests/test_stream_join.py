"""Stream-stream funnel join: streaming result must equal the batch
join over the same data (watermarks only bound state, they must not
drop anything in a single AvailableNow pass over bounded input), and
a restart from the checkpoint must give the uninterrupted result."""

import os
import shutil

from pyspark.sql import functions as F

from etl_mp_transactions_spark.sources.tables import SCHEMAS, load_table
from etl_mp_transactions_spark.streaming.filesource import stage_events_as_files
from etl_mp_transactions_spark.streaming.joins import funnel_join, run_funnel_stream
from tests.test_silver_stream import _Progress


def test_funnel_stream_matches_batch(spark, sf_dir, tmp_path):
    stage = str(tmp_path / "in")
    stage_events_as_files(spark, sf_dir, stage, n_files=2)

    out = run_funnel_stream(
        spark, stage, SCHEMAS["events"],
        str(tmp_path / "ckpt"), str(tmp_path / "out"),
    )

    ev = load_table(spark, sf_dir, "events")
    batch = funnel_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    got = {(r["click_id"], r["purchase_id"]) for r in out.collect()}
    want = {(r["click_id"], r["purchase_id"]) for r in batch.collect()}
    assert got == want
    assert len(want) > 0  # fixture actually produces funnel pairs


def test_funnel_window_bound_respected(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    pairs = funnel_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        within="30 minutes",
    )
    bad = pairs.filter(
        (F.col("purchase_ts") <= F.col("click_ts"))
        | (F.col("purchase_ts") > F.col("click_ts") + F.expr("INTERVAL 30 minutes"))
    )
    assert bad.count() == 0


def _time_split(ev, tmp_path, t_split):
    """The events as two files, before and from ``t_split`` (a
    timestamp_ntz wall clock, compared as one so the split does not
    depend on any time zone)."""
    cut = F.lit(t_split.isoformat(" ")).cast("timestamp_ntz")
    files = []
    for i, part in enumerate((ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut))):
        d = str(tmp_path / f"part{i}")
        part.coalesce(1).write.parquet(d)
        (name,) = [f for f in os.listdir(d) if f.endswith(".parquet")]
        files.append(os.path.join(d, name))
    return files


def _place(src, dst_dir, i):
    # strictly increasing mtimes fix the file source's batch order
    dst = os.path.join(dst_dir, f"part-{i:04d}.parquet")
    shutil.copy(src, dst)
    os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))


def test_funnel_stream_restart_equals_uninterrupted(spark, sf_dir, tmp_path):
    """Run on the earlier half of the events, add the later half and
    restart from the same checkpoint: the output equals one
    uninterrupted run over both files. The split falls between a click
    and its purchase, so the pair only joins if the restart restores
    the buffered click from the state store."""
    ev = load_table(spark, sf_dir, "events")
    pairs = sorted(
        funnel_join(
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "purchase"),
        ).collect(),
        key=lambda r: r["purchase_ts"],
    )
    crossing = pairs[len(pairs) // 2]
    (purchase,) = ev.filter(F.col("event_id") == crossing["purchase_id"]).collect()
    early, late = _time_split(ev, tmp_path, purchase["ts"])

    restarted, whole = str(tmp_path / "restarted"), str(tmp_path / "whole")
    os.makedirs(restarted)
    os.makedirs(whole)
    for i, f in enumerate((early, late)):
        _place(f, whole, i)
    ckpt, out_dir = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def run(stage, ck, out):
        got = run_funnel_stream(spark, stage, SCHEMAS["events"], ck, out)
        return sorted(got.collect())

    progress = _Progress()
    spark.streams.addListener(progress)

    def input_rows():
        return sum(p["numInputRows"] for p in progress.take())

    try:
        _place(early, restarted, 0)
        first = run(restarted, ckpt, out_dir)
        first_rows = input_rows()
        _place(late, restarted, 1)
        second = run(restarted, ckpt, out_dir)
        restart_rows = input_rows()
        uninterrupted = run(whole, str(tmp_path / "ckpt_all"), str(tmp_path / "out_all"))
        whole_rows = input_rows()
    finally:
        spark.streams.removeListener(progress)

    assert second == uninterrupted
    # the restart read only the added file, so both starts together read
    # the input once, as the uninterrupted run did
    assert first_rows + restart_rows == whole_rows
    assert len(first) < len(second)
    key = (crossing["click_id"], crossing["purchase_id"])
    assert key not in {(r.click_id, r.purchase_id) for r in first}
    assert key in {(r.click_id, r.purchase_id) for r in second}

"""Restart of the frozen-state ledger runners (r19 ivfpq ingest, r20
quality gate, r22 delete tombstones, r24 scene cuts): a run over the
first two arriving files, then a second run on the same checkpoint
and state once the other two and a replay of the first have arrived,
must end where one uninterrupted run over the same five files ends."""

import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F

from etl_mp_transactions_spark.sources.tables import load_table
from etl_mp_transactions_spark.streaming import filesource


def _ivfpq_ingest(spark, sf_dir):
    from etl_mp_transactions_spark.operators import ivfpq as ivfpq_ops
    from etl_mp_transactions_spark.queries.ivfpq_q import (
        _ARRIVING_PRED,
        _BASE_PRED,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.expr(_BASE_PRED))
    cb = ivfpq_ops.coarse_books(base)
    pb = ivfpq_ops.residual_books(ivfpq_ops.coarse_assign(base, cb))
    arriving = emb.filter(F.expr(_ARRIVING_PRED)).withColumn(
        "g", F.expr("(vec_id div 8) % 4")
    )
    return arriving, lambda src, ckpt, state: (
        filesource.stream_ivfpq_ingest_run(spark, src, ckpt, state, cb, pb)
    )


def _quality_gate(spark, sf_dir):
    from etl_mp_transactions_spark.queries.quality_clf import (
        _STREAM_ARRIVING_PRED,
        _STREAM_BASE_PRED,
        _bigrams_df,
        _docx_against,
        _lm_from,
        _trained_params,
    )

    docs = load_table(spark, sf_dir, "documents")
    wb = _bigrams_df(docs.filter(F.expr(_STREAM_BASE_PRED)))
    lm = _lm_from(wb).localCheckpoint(eager=True)
    params = _trained_params(
        spark, _docx_against(wb, lm).localCheckpoint(eager=True)
    )
    arriving = docs.filter(F.expr(_STREAM_ARRIVING_PRED)).withColumn(
        "g", F.expr("(doc_id div 5) % 4")
    )
    return arriving, lambda src, ckpt, state: (
        filesource.stream_quality_gate_run(spark, src, ckpt, state, lm, params)
    )


def _delete_tombstones(spark, sf_dir):
    from etl_mp_transactions_spark.queries.ivfpq_train_q import DELETE_PRED

    dels = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .filter(F.expr(DELETE_PRED))
        .withColumn("g", F.expr("(vec_id div 7) % 4"))
    )
    return dels, lambda src, ckpt, state: (
        filesource.stream_delete_tombstones_run(spark, src, ckpt, state)
    )


def _scene_cuts(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.withColumn("g", F.expr("doc_id % 4")), lambda src, ckpt, state: (
        filesource.stream_scene_cuts_run(spark, src, ckpt, state)
    )


def _arrive(arriving, stage, groups):
    """Stage the given groups as stage_arrivals names and stamps them."""
    os.makedirs(stage, exist_ok=True)
    for g in groups:
        filesource.write_single_file(
            arriving.filter(F.col("g") == g).drop("g"),
            os.path.join(stage, f"f{g}.parquet"),
            filesource._ARRIVAL_T0 + 10 * g,
        )


@pytest.mark.parametrize(
    "setup",
    [_ivfpq_ingest, _quality_gate, _delete_tombstones, _scene_cuts],
    ids=["r19", "r20", "r22", "r24"],
)
def test_restart_equals_uninterrupted(spark, sf_dir, tmp_path, setup):
    arriving, runner = setup(spark, sf_dir)

    def run(work):
        out = runner(
            os.path.join(work, "in"),
            os.path.join(work, "ckpt"),
            os.path.join(work, "state"),
        )
        return Counter(tuple(r) for r in out.collect())

    once = str(tmp_path / "once")
    filesource.stage_arrivals(arriving, os.path.join(once, "in"))
    want = run(once)

    resumed = str(tmp_path / "resumed")
    stage = os.path.join(resumed, "in")
    _arrive(arriving, stage, [0, 1])
    run(resumed)
    _arrive(arriving, stage, [2, 3])
    replay = os.path.join(stage, "replay.parquet")
    shutil.copy(os.path.join(stage, "f0.parquet"), replay)
    t = filesource._ARRIVAL_T0 + 10 * filesource._ARRIVAL_GROUPS
    os.utime(replay, (t, t))
    assert run(resumed) == want and want

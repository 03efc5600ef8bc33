"""Units for curation batch 5 + incremental surfaces: bigram-LM
scores against hand-computed values, temperature-mix rate algebra,
and continuous-aggregate replay safety."""

from __future__ import annotations

import math
import os

from pyspark.sql import functions as F


def test_ngram_lm_hand_computed(spark, tmp_path, monkeypatch):
    """3-doc corpus small enough to fit the model in your head:
    corpus bigrams: 'a b' ×2 (docs 1,2), 'b a' ×1 (doc 2), 'c c' ×2
    (doc 3, twice). V = 3 distinct unigrams {a, b, c}.
    C(a·)=2, C(b·)=1, C(c·)=2.
    doc1 = 'a b'      → ln((2+1)/(2+3)) = ln(3/5)
    doc3 = 'c c c'    → 2·ln((2+1)/(2+3)) / 2 = ln(3/5)
    doc2 = 'a b a'    → (ln(3/5) + ln((1+1)/(1+3))) / 2
    """
    from etl_mp_transactions_spark.queries.training_ops2 import ngram_lm_quality

    docs = spark.createDataFrame(
        [
            (1, "a b", "en", "src0", 3),
            (2, "a b a", "en", "src0", 5),
            (3, "c c c", "en", "src0", 5),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    src = os.path.join(str(tmp_path), "documents.parquet")
    docs.write.parquet(src)
    out = {
        r.doc_id: (r.n_bigrams, r.avg_logprob_nano)
        for r in ngram_lm_quality(spark, str(tmp_path)).collect()
    }
    ln35 = math.log(3 / 5)
    # nano-unit ints since r15; the ln_nano grid is exact to ~1e-6
    assert out[1][0] == 1 and abs(out[1][1] - ln35 * 1e9) < 2000
    assert out[3][0] == 2 and abs(out[3][1] - ln35 * 1e9) < 2000
    assert out[2][0] == 2
    assert abs(out[2][1] - (ln35 + math.log(2 / 4)) / 2 * 1e9) < 2000


def test_temperature_mix_rates(spark, sf_dir):
    """Rate algebra: rate_s = min(1, 200·sqrt(n_s)/Z/n_s) — small
    sources get strictly higher keep rates; per-source keep counts
    land within binomial range of rate·n."""
    from etl_mp_transactions_spark.queries.training_ops2 import (
        source_temperature_mix,
    )
    from etl_mp_transactions_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    n = {r.source: r.n for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    z = sum(math.sqrt(v) for v in n.values())
    kept = source_temperature_mix(spark, sf_dir).collect()
    rates = {r.source: r.sampling_rate_nano / 1e9 for r in kept}
    for s, rate in rates.items():
        expect = min(1.0, 200.0 * math.sqrt(n[s]) / z / n[s])
        # nano ints since r15; bigratio isqrt/ladder method error
        assert abs(rate - expect) < 1e-6, (s, rate, expect)
    # smaller source → weakly larger rate
    by_size = sorted(n, key=n.get)
    for a, b in zip(by_size, by_size[1:]):
        if a in rates and b in rates:
            assert rates[a] >= rates[b] - 1e-12


def test_continuous_agg_replay_adds_nothing(spark, sf_dir, tmp_path):
    """Re-running the continuous aggregate with the same checkpoint
    (no new files) processes zero batches and leaves the merged view
    unchanged — and the state dir holds one partial per micro-batch,
    the replay-idempotence unit (overwrite-by-batch-id)."""
    from etl_mp_transactions_spark.streaming.filesource import (
        stage_events_as_files,
        stream_continuous_agg_run,
    )

    stage = os.path.join(str(tmp_path), "in")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    state = os.path.join(str(tmp_path), "state")
    stage_events_as_files(spark, sf_dir, stage, n_files=3)
    first = stream_continuous_agg_run(spark, stage, ckpt, state).collect()
    batches = [d for d in os.listdir(state) if d.startswith("b=")]
    assert len(batches) == 3, batches
    second = stream_continuous_agg_run(spark, stage, ckpt, state).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))
    assert len([d for d in os.listdir(state) if d.startswith("b=")]) == 3


def test_lm_quality_partition_invariant(spark, sf_dir):
    """The rounded LM score must not depend on physical parallelism:
    double-sum order varies with shuffle partitioning, and the 9-dp
    round is the documented absorber. Run the same query under two
    partition counts and require identical output — the determinism
    contract every float-emitting query in the registry claims."""
    from etl_mp_transactions_spark.queries.training_ops2 import ngram_lm_quality

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = sorted(map(tuple, ngram_lm_quality(spark, sf_dir).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = sorted(map(tuple, ngram_lm_quality(spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b


def test_stream_session_append_subset(spark, sf_dir, tmp_path):
    """Append-mode session windows (the unbounded production shape)
    emit only watermark-finalized sessions — every emitted row must
    match the batch sessionization exactly (same user/start/count),
    with no duplicates; sessions still open at end-of-stream are
    withheld, so the emitted set is a subset."""
    from pyspark.sql import functions as F

    from etl_mp_transactions_spark.sources.tables import load_table
    from etl_mp_transactions_spark.streaming.filesource import (
        staged_events_cached,
        stream_session_counts_run,
    )

    stage = staged_events_cached(spark, sf_dir, n_files=4)
    out = stream_session_counts_run(
        spark,
        stage,
        os.path.join(str(tmp_path), "ckpt"),
        output_mode="append",
    ).collect()
    assert len(out) > 0
    keys = [(r.user_id, r.session_start, r.n_events) for r in out]
    assert len(keys) == len(set(keys)), "duplicate sessions emitted"

    ev = load_table(spark, sf_dir, "events")
    batch = {
        (r.user_id, r.session_start, r.n_events)
        for r in ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
        )
        .collect()
    }
    assert set(keys) <= batch, "append emitted a session batch disagrees with"

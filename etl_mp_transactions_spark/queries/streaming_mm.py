"""Streaming + multimodal registry entries.

Registration order is deliberate: the driver's correctness gate
samples the first 50 registry entries, and through round 4 that cut
fell just before the streaming twins — so their stream==batch
equality was only locally attested. This module now registers ahead
of the windows batch and leads with its full-value-oracle entries
(multimodal features/decode, R1 dedup, r6/r7/r8 streaming twins) so
streaming correctness is driver-attested from round 5 on.

On-disk state (stages, checkpoints, upsert state) lives in
uuid-keyed run dirs with age-based GC (workdirs.run_dir) — private
per invocation, so overlapping driver-correctness and bench runs
cannot delete each other's live checkpoints, and abandoned footprints
are swept instead of accumulating.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_mp_transactions_spark.operators import multimodal
from etl_mp_transactions_spark.streaming import filesource
from etl_mp_transactions_spark.registry import query
from etl_mp_transactions_spark.sources.tables import load_table
from etl_mp_transactions_spark.workdirs import publish_fixture, run_dir


@query(
    "multimodal_features",
    f"""
    WITH h AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
               AS media_type,
             list_aggregate(
               list_transform(generate_series(0, 31),
                 i -> substr(upper(md5(text) || md5('x' || text)), 2 * i + 1, 1)),
               'string_agg', '') AS hi
      FROM documents
    ), k AS (
      SELECT doc_id, media_type,
             list_transform(generate_series(0, 15),
               d -> 32 - length(replace(hi, substr('0123456789ABCDEF', d + 1, 1), '')))
               AS hist
      FROM h
    )
    SELECT doc_id AS asset_id, media_type, 32 AS n_bytes,
           -list_sum(list_transform(hist,
             c -> ([{", ".join(str(v) for v in multimodal.ENT32_NANO)}])[c + 1]))
             AS byte_entropy_nano,
           list_aggregate(list_transform(hist, c -> CAST(c AS VARCHAR)), 'string_agg', ',')
             AS histogram
    FROM k
    """,
)
def multimodal_features(spark, sf_dir):
    """Binary media columns → byte-level features via Arrow
    mapInPandas (16-bucket high-nibble histogram + byte entropy).

    FULL value oracle (closed in r5; this was the one `no_oracle`
    driver row through r4): the synthetic content is md5-derived, so
    the oracle rebuilds the exact byte stream in hex space — each
    byte's high nibble is the hex char at odd 1-indexed positions of
    upper(md5(text)||md5('x'||text)) — then recounts the histogram
    with string arithmetic and recomputes entropy from it. Entropy
    terms come from the shared ENT32_NANO INTEGER literal grid
    (operators/multimodal.py — python-precomputed exact-rational
    (c/32)·log2(c/32) at nano resolution, no engine log2), summed as
    exact BIGINTs: identical by construction, no float on the result
    path (r15)."""
    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.synthesize_assets(docs)
    feats = multimodal.extract_features(assets)
    ent_lits = ", ".join(
        f"{v}L" for v in multimodal.ENT32_NANO
    )
    return feats.select(
        "asset_id",
        "media_type",
        "n_bytes",
        # exact BIGINT entropy from the shared nano literal grid,
        # recomputed JVM-side from the integer histogram (r15 float
        # purge — the operator's float column stays for unit tests)
        F.expr(
            f"-aggregate(transform(histogram,"
            f" c -> element_at(array({ent_lits}), CAST(c + 1 AS INT))),"
            f" 0L, (a, x) -> a + x)"
        ).alias("byte_entropy_nano"),
        F.array_join(F.transform("histogram", lambda x: x.cast("string")), ",").alias(
            "histogram"
        ),
    )


@query(
    "multimodal_decode",
    """
    SELECT doc_id AS asset_id,
           CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS fmt,
           (doc_id % 5 + 4)::INT AS width,
           (doc_id % 4 + 3)::INT AS height,
           ((doc_id % 5 + 4) * (doc_id % 4 + 3) * 3)::INT AS n_bytes,
           substr(repeat(upper(md5(text) || md5('x' || text)),
                         CAST(((doc_id % 5 + 4) * (doc_id % 4 + 3) * 6 + 63) // 64
                              AS INT)),
                  1, CAST((doc_id % 5 + 4) * (doc_id % 4 + 3) * 6 AS INT))
             AS pixel_hex
    FROM documents
    """,
)
def multimodal_decode(spark, sf_dir):
    """§2.9 multimodal: REAL image decode through the from-spec
    PPM/BMP codecs (operators/imagecodec.py) — the step that was an
    env-gated stub through r4. Each doc synthesizes a deterministic
    raw RGB buffer (md5-derived bytes tiled to width×height×3), is
    encoded into a real container (even doc_ids → binary PPM, odd →
    24bpp bottom-up BGR BMP), and decoded back by `decode_image`.

    The oracle reconstructs the raw buffer independently in hex-string
    space; equality proves the decoder inverts the actual container
    layout — BMP's row flip + channel swap + 4-byte row padding, and
    PPM's header grammar — not merely that bytes passed through.
    Map-only; blobs never shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    staged = (
        docs.select(
            F.col("doc_id").alias("asset_id"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("ppm"))
            .otherwise(F.lit("bmp"))
            .alias("fmt"),
            (F.col("doc_id") % 5 + 4).cast("int").alias("width"),
            (F.col("doc_id") % 4 + 3).cast("int").alias("height"),
            F.upper(
                F.concat(F.md5("text"), F.md5(F.concat(F.lit("x"), F.col("text"))))
            ).alias("hex64"),
        )
        .withColumn("n", F.col("width") * F.col("height") * 3)
        .withColumn(
            "raw",
            F.unhex(
                F.expr(
                    "substring(repeat(hex64, cast((n * 2 + 63) div 64 as int)), 1, n * 2)"
                )
            ),
        )
        .select("asset_id", "fmt", "width", "height", "raw")
    )
    return multimodal.encode_decode_images(staged)


@query(
    "r1_stream_dedup",
    # the streamed result IS SQL-checkable here: base event_ids are
    # unique and the replayed file contains byte-identical rows, so
    # whichever copy the state store keeps, the output relation equals
    # the base event set — a full oracle, not rows-only
    "SELECT event_id, user_id, event_type FROM events",
)
def r1_stream_dedup(spark, sf_dir):
    """R1/R3: file-source micro-batch stream with exactly-once
    dropDuplicates on event_id. Events are staged into 4 files and the
    first file is duplicated (the replayed-GCS-notification case) —
    output must equal the distinct event set. Replay-across-restart is
    asserted in tests/test_streaming.py."""
    import shutil
    import uuid

    from etl_mp_transactions_spark.streaming.filesource import (
        staged_events_cached,
        stream_dedup_run,
    )

    # private uuid-keyed run dir (see module docstring); the stage is
    # file-copied from the immutable machine-level cache because this
    # query MUTATES its stage with a replay file — the copy is OS file
    # I/O, not a Spark job.
    work = run_dir("stream_dedup")
    stage = os.path.join(work, "in")
    cache = staged_events_cached(spark, sf_dir, n_files=4)
    os.makedirs(stage, exist_ok=True)
    for f in os.listdir(cache):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(cache, f), os.path.join(stage, f))
    # duplicate one input file → replayed notification
    part = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))[0]
    shutil.copy(
        os.path.join(stage, part), os.path.join(stage, f"replay-{uuid.uuid4().hex}.parquet")
    )
    out = stream_dedup_run(
        spark, stage, os.path.join(work, "ckpt"), os.path.join(work, "out")
    )
    return out.select("event_id", "user_id", "event_type")


@query(
    "r6_stream_tumbling",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def r6_stream_tumbling(spark, sf_dir):
    """R-ext streaming twin with a FULL oracle: watermarked tumbling-
    window aggregation run as an AvailableNow stream (file source →
    memory sink, complete mode so a finite run re-emits every window)
    — the result must equal the batch/SQL aggregation bit-for-bit.
    The production append-mode variant (watermark-finalized windows
    only) is exercised in tests/test_streaming.py."""
    from etl_mp_transactions_spark.streaming.filesource import (
        staged_events_cached,
        stream_windowed_counts_run,
    )

    work = run_dir("stream_win")
    stage = staged_events_cached(spark, sf_dir, n_files=4)
    return stream_windowed_counts_run(
        spark, stage, os.path.join(work, "ckpt"), output_mode="complete"
    )


@query(
    "r7_stream_upsert",
    """
    SELECT user_id, event_id AS last_event_id,
           ts AS last_ts, event_type AS last_type,
           CAST(value AS DOUBLE) AS last_value
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC
      ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def r7_stream_upsert(spark, sf_dir):
    """Keep-latest streaming upsert with a FULL oracle: events staged
    as 4 files, streamed one file per micro-batch through a
    foreachBatch merge (newest row per user wins, event_id tiebreak).
    The merge is max-by — associative and idempotent — so the final
    state table must equal the batch 'latest event per user' exactly,
    independent of file order and batch boundaries."""
    from etl_mp_transactions_spark.streaming.filesource import (
        staged_events_cached,
        stream_upsert_latest_run,
    )

    work = run_dir("stream_ups")
    stage = staged_events_cached(spark, sf_dir, n_files=4)
    out = stream_upsert_latest_run(
        spark, stage, os.path.join(work, "ckpt"), os.path.join(work, "state")
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("value").cast("double").alias("last_value"),
    )


@query(
    "r8_stream_session",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def r8_stream_session(spark, sf_dir):
    """R-ext streaming session windows with a FULL oracle: events
    streamed as 4 files through a watermarked session_window
    aggregation (AvailableNow, complete mode — finite run re-emits
    every merged session), compared against the batch gaps-and-islands
    sessionization. Cross-micro-batch session merging is the property
    under test: a user's session split across files must come out as
    one row."""
    from etl_mp_transactions_spark.streaming.filesource import (
        staged_events_cached,
        stream_session_counts_run,
    )

    work = run_dir("stream_sess")
    stage = staged_events_cached(spark, sf_dir, n_files=4)
    return stream_session_counts_run(
        spark, stage, os.path.join(work, "ckpt"), output_mode="complete"
    )


@query(
    "multimodal_frame_sample",
    """
    SELECT doc_id AS asset_id, t.i::INT AS frame_idx,
           substr(upper(md5(text) || md5('x' || text)), t.i * 8 + 1, 8)
             AS frame_hex
    FROM documents, unnest([0, 2, 4, 6]) AS t(i)
    WHERE doc_id % 3 = 2
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """§2.9 multimodal: sample every 2nd 4-byte frame of each video
    asset's content via the mapInPandas fan-out (operators/multimodal.
    sample_frames). The synthetic content is md5-derived, so the
    oracle reproduces the exact frame bytes in hex-string space
    (DuckDB has no blob slicing) — a FULL value oracle for the binary
    plumbing, not a rows-only check."""
    from etl_mp_transactions_spark.operators.multimodal import (
        sample_frames,
        synthesize_assets,
    )

    docs = load_table(spark, sf_dir, "documents")
    assets = synthesize_assets(docs).filter(F.col("media_type") == "video")
    return sample_frames(assets, frame_bytes=4, stride=2)


@query(
    "multimodal_resize",
    """
    SELECT doc_id AS asset_id,
           list_aggregate(
             list_transform(generate_series(0, 15),
                            i -> substr(upper(md5(text) || md5('x' || text)),
                                        i * 4 + 1, 2)),
             'string_agg', '') AS content_small_hex,
           (n_chars % 640) // 2 AS w_small,
           (n_chars % 480) // 2 AS h_small,
           16 AS n_bytes_small
    FROM documents
    WHERE doc_id % 3 = 0
    """,
)
def multimodal_resize(spark, sf_dir):
    """§2.9 multimodal: thumbnail/resize plumbing for image assets —
    every-2nd-byte downsample with metadata halving via mapInPandas
    (operators/multimodal.resize_assets). Verified as a full value
    oracle in hex-string space (every 2nd byte = hex pairs at even
    offsets)."""
    from etl_mp_transactions_spark.operators.multimodal import (
        resize_assets,
        synthesize_assets,
    )

    docs = load_table(spark, sf_dir, "documents")
    assets = synthesize_assets(docs).filter(F.col("media_type") == "image")
    r = resize_assets(assets, factor=2)
    return r.select(
        "asset_id",
        F.hex("content_small").alias("content_small_hex"),
        F.col("meta_small.width").cast("bigint").alias("w_small"),
        F.col("meta_small.height").cast("bigint").alias("h_small"),
        F.col("meta_small.n_bytes").cast("bigint").alias("n_bytes_small"),
    )


@query(
    "r9_stream_continuous_agg",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def r9_stream_continuous_agg(spark, sf_dir):
    """Continuous aggregate with a FULL oracle: events streamed one
    file per micro-batch; each batch persists its partial (count +
    exact-cents sum per hour/type) under a batch-id-keyed path —
    idempotent under replay, so exactly-once without sink
    transactions — and the readable view merges the partials. Must
    equal the one-shot batch aggregation exactly; cents stay BIGINT
    until the final render so merge order cannot drift a cent."""
    from etl_mp_transactions_spark.streaming.filesource import (
        staged_events_cached,
        stream_continuous_agg_run,
    )

    work = run_dir("stream_cagg")
    stage = staged_events_cached(spark, sf_dir, n_files=4)
    out = stream_continuous_agg_run(
        spark, stage, os.path.join(work, "ckpt"), os.path.join(work, "state")
    )
    return out.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "n",
        "total_value",
    )


@query(
    "r10_stream_stream_join",
    """
    SELECT c.user_id,
           c.event_id AS click_id, p.event_id AS purchase_id,
           c.ts AS click_ts, p.ts AS purchase_ts
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def r10_stream_stream_join(spark, sf_dir):
    """Stream-stream event-time interval join with a FULL oracle: the
    click->purchase funnel join (streaming/joins.py) run as an
    AvailableNow stream over the staged event files, compared against
    the batch/SQL interval join — exact equality.

    The watermark + both-sided time bound is the scale contract:
    per-key state older than (watermark + window) expires, so state
    is bounded by the window span, not the stream length. A single
    AvailableNow pass consumes the bounded input in one micro-batch,
    so the watermark bounds state without dropping anything — the
    equality below is exact; late-arrival drop semantics across
    micro-batches are exercised in tests/test_stream_join.py."""
    from etl_mp_transactions_spark.sources.tables import SCHEMAS
    from etl_mp_transactions_spark.streaming.filesource import staged_events_cached
    from etl_mp_transactions_spark.streaming.joins import run_funnel_stream

    work = run_dir("stream_ssj")
    stage = staged_events_cached(spark, sf_dir, n_files=4)
    out = run_funnel_stream(
        spark, stage, SCHEMAS["events"],
        os.path.join(work, "ckpt"), os.path.join(work, "out"),
    )
    return out.select(
        "user_id", "click_id", "purchase_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
    )


@query(
    "r11_stream_sliding",
    """
    WITH slid AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS window_start, * FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE, * FROM events
    )
    SELECT window_start, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM slid GROUP BY 1
    """,
)
def r11_stream_sliding(spark, sf_dir):
    """R-ext streaming twin with a FULL oracle: watermarked sliding-
    window (1h every 30min) aggregation as an AvailableNow stream —
    stream==batch==SQL, the same pin family as r6_stream_tumbling;
    the oracle materializes both bucket offsets per event explicitly
    (the window_sliding formulation)."""
    from etl_mp_transactions_spark.streaming.filesource import (
        staged_events_cached,
        stream_sliding_counts_run,
    )

    work = run_dir("stream_slide")
    stage = staged_events_cached(spark, sf_dir, n_files=4)
    return stream_sliding_counts_run(
        spark, stage, os.path.join(work, "ckpt"), output_mode="complete"
    )


@query(
    "multimodal_audio_frames",
    """
    WITH h AS (
      SELECT doc_id,
             upper(md5(text) || md5('x' || text)) AS hi
      FROM documents
      WHERE doc_id % 3 = 1
    ),
    samp AS (
      -- byte(i) from hex chars; centered sample 2b-255 (odd => no
      -- zero-sign case, matching the Arrow operator)
      SELECT doc_id,
             list_transform(generate_series(0, 31),
               i -> 2 * ((strpos('0123456789ABCDEF',
                                 substr(hi, 2 * i + 1, 1)) - 1) * 16
                         + strpos('0123456789ABCDEF',
                                  substr(hi, 2 * i + 2, 1)) - 1) - 255)
               AS s
      FROM h
    ),
    frames AS (
      SELECT doc_id, f.f AS frame_idx, s[f.f * 8 + 1 : f.f * 8 + 16] AS w
      FROM samp, (SELECT unnest(generate_series(0, 2)) AS f) f
    )
    SELECT doc_id AS asset_id, frame_idx,
           list_sum(list_transform(w, x -> x * x))::BIGINT AS energy,
           list_max(list_transform(w, x -> abs(x)))::INTEGER AS peak,
           list_sum(list_transform(generate_series(2, 16),
             i -> CASE WHEN w[i] * w[i - 1] < 0 THEN 1 ELSE 0 END))::INTEGER
             AS zero_crossings
    FROM frames
    ORDER BY asset_id, frame_idx
    """,
)
def multimodal_audio_frames(spark, sf_dir):
    """The audio leg of the multimodal family: 8-bit-PCM framing
    (16-sample frames, hop 8) with integer energy / peak /
    zero-crossing features via Arrow mapInPandas — and, because the
    features are all-integer, a FULL value oracle that rebuilds the
    same sample stream in hex space (the multimodal_features
    technique, without even the entropy float). Only audio-typed
    assets (doc_id % 3 == 1) flow in: the media-type filter prunes
    before the Python boundary."""
    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.synthesize_assets(docs).filter(
        F.col("media_type") == "audio"
    )
    frames = multimodal.frame_audio(assets)
    return frames.orderBy("asset_id", "frame_idx")


@query(
    "r12_stream_static_enrich",
    """
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def r12_stream_static_enrich(spark, sf_dir):
    """Stream-static dimension enrichment with a FULL oracle: the
    event stream (AvailableNow file source) joins the STATIC customer
    dimension mid-stream — Spark broadcasts the dim into every
    micro-batch, the production shape for reference-data enrichment
    (the reference's per-row BigQuery lookups, SURVEY.md §1.3,
    re-expressed as one declarative join). Complete-mode aggregation
    per segment == the batch join+agg exactly."""
    from etl_mp_transactions_spark.sources.tables import load_table as _lt
    from etl_mp_transactions_spark.streaming.filesource import (
        staged_events_cached,
        stream_files_available_now,
        _events_schema,
    )

    work = run_dir("stream_static")
    stage = staged_events_cached(spark, sf_dir, n_files=4)
    stream = stream_files_available_now(spark, stage, schema=_events_schema())
    dim = _lt(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    agg = (
        stream.join(dim, stream.user_id == dim.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    return filesource.run_to_memory(
        agg, stage, os.path.join(work, "ckpt"), "complete"
    )


@query(
    "r13_stream_custom_state",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           SUM(CAST(round(value * 100) AS BIGINT)) AS total_cents
    FROM events
    GROUP BY user_id
    """,
)
def r13_stream_custom_state(spark, sf_dir):
    """Custom arbitrary-stateful streaming operator through the FULL
    oracle gate: per-user running (count, cents) maintained by an
    applyInPandasWithState handler (explicit partitioned state — the
    generalized form of the reference's Redis counters,
    src/redis_tools.py:38-54), streamed over 4 micro-batches in
    update mode. Each key's emissions are monotone in n_events, so
    the final accumulated row per user (max n_events) must equal the
    batch groupBy exactly — integer cents make the cross-batch
    accumulation order-free."""
    from pyspark.sql import Window as W

    from etl_mp_transactions_spark.streaming.filesource import (
        staged_events_cached,
        stream_files_available_now,
        _events_schema,
    )
    from etl_mp_transactions_spark.streaming.stateful import (
        running_user_totals_cents,
    )

    work = run_dir("stream_custom_state")
    stage = staged_events_cached(spark, sf_dir, n_files=4)
    stream = stream_files_available_now(spark, stage, schema=_events_schema())
    emissions = filesource.run_to_memory(
        running_user_totals_cents(stream),
        stage,
        os.path.join(work, "ckpt"),
        "update",
    )
    rn = F.row_number().over(
        W.partitionBy("user_id").orderBy(F.desc("n_events"))
    )
    return (
        emissions.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_cents")
    )


@query(
    "r14_stream_late_drop",
    """
    WITH b AS (
      SELECT event_type, ts, value,
             CAST(event_id % 4 AS BIGINT) AS batch,
             CAST(date_trunc('day', ts) AS TIMESTAMP)
               + INTERVAL 1 DAY AS wend,
             CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    bm AS (SELECT batch, max(ts) AS mx FROM b GROUP BY 1),
    wm AS (
      SELECT batch,
             max(mx) OVER (ORDER BY batch
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 2 PRECEDING) AS late_wm_max
      FROM bm
    ),
    kept AS (
      SELECT e.day, e.event_type, e.value
      FROM b e JOIN wm USING (batch)
      WHERE wm.late_wm_max IS NULL
         OR e.wend > wm.late_wm_max - INTERVAL 6 HOUR
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM kept GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def r14_stream_late_drop(spark, sf_dir):
    """Watermark LATE-DATA POLICY through the full oracle gate — the
    9th stream==batch pin, and the first that pins Spark's drop rule
    itself rather than a drop-free run: events are staged into 4
    files by the SQL-expressible rule event_id % 4 (mtime-ordered, so
    maxFilesPerTrigger=1 fixes the batch order), streamed into a
    1-day-window x type count/cents aggregation in update mode under
    a 6-hour watermark. Because each batch spans the whole time
    range, the watermark after batch 1 sits 6 hours under the global
    max and later batches are MOSTLY dropped — the oracle reproduces
    Spark's exact rule in SQL: the LATE-EVENT filter in batch b uses
    the watermark of the PREVIOUS batch's start, i.e. the running max
    over batches <= b-2 (keep iff window_end > that max - 6h), while
    only EVICTION uses the current watermark (the two-watermark
    design, SPARK-24588 lineage; verified against
    numRowsDroppedByWatermark and pinned here — an oracle written
    with the naive <= b-1 rule under-keeps by ~2.5k rows at sf0.01).
    Counts per key are monotone across updates, so the final
    accumulated row per (day, type) is the max-n emission."""
    from pyspark.sql import Window as W

    from etl_mp_transactions_spark.streaming.filesource import (
        _events_schema,
        staged_event_batches_cached,
        stream_files_available_now,
    )

    work = run_dir("stream_late_drop")
    stage = staged_event_batches_cached(spark, sf_dir, n_batches=4)
    stream = stream_files_available_now(
        spark, stage, schema=_events_schema(), max_files_per_trigger=1
    )
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", "6 hours")
        .groupBy(F.window("ts", "1 day"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
        )
        .select(
            F.date_format(
                F.col("window.start").cast("timestamp_ntz"), "yyyy-MM-dd"
            ).alias("day"),
            "event_type",
            "n",
            "cents",
        )
    )
    emissions = filesource.run_to_memory(
        agg, stage, os.path.join(work, "ckpt"), "update"
    )
    rn = F.row_number().over(
        W.partitionBy("day", "event_type").orderBy(F.desc("n"))
    )
    return (
        emissions.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("day", "event_type", "n", "cents")
        .orderBy("day", "event_type")
    )


@query(
    "r15_kappa_backfill_union",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           SUM(CAST(round(value * 100) AS BIGINT)) AS total_cents
    FROM events
    GROUP BY event_type
    """,
)
def r15_kappa_backfill_union(spark, sf_dir):
    """Kappa-architecture reprocessing contract as an oracle pin
    (10th stream==batch pin): history (event_id % 4 IN 0..2) runs as
    a BATCH backfill, the live tail (batch 3's staged file) runs
    through STRUCTURED STREAMING, and the two partial aggregates
    merge by addition — the union must equal the one-shot batch
    aggregate over everything. This is the property that makes
    backfill + live-tail deployments safe: the aggregation is the
    SAME declarative plan in both execution modes and its state is
    mergeable (count/sum over integer cents), so where the
    batch/stream boundary falls cannot change the answer."""
    import shutil

    from etl_mp_transactions_spark.streaming.filesource import (
        _events_schema,
        staged_event_batches_cached,
        stream_files_available_now,
    )

    cents = F.round(F.col("value") * 100).cast("bigint")

    def agg(df):
        return df.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(cents).alias("total_cents"),
        )

    ev = load_table(spark, sf_dir, "events")
    history = agg(ev.filter(F.col("event_id") % 4 != 3))

    stage = staged_event_batches_cached(spark, sf_dir, n_batches=4)
    # the file source wants a directory: publish a cached tail dir
    # holding only the live-tail file (published like the stage)
    tail_dir = publish_fixture(
        f"{stage}_tail",
        lambda building: shutil.copy(
            os.path.join(stage, "batch-0003.parquet"),
            os.path.join(building, "batch-0003.parquet"),
        ),
    )
    tail_stream = stream_files_available_now(
        spark, tail_dir, schema=_events_schema()
    )
    work = run_dir("kappa_backfill")
    tail = filesource.run_to_memory(
        agg(tail_stream), tail_dir, os.path.join(work, "ckpt"), "complete"
    )
    return (
        history.unionAll(tail)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_cents").alias("total_cents"),
        )
        .orderBy("event_type")
    )


@query(
    "multimodal_wht_spectrum",
    """
    WITH h AS (
      SELECT doc_id,
             upper(md5(text) || md5('x' || text)) AS hi
      FROM documents
      WHERE doc_id % 3 = 1
    ),
    samp AS (
      SELECT doc_id,
             list_transform(generate_series(0, 31),
               i -> 2 * ((strpos('0123456789ABCDEF',
                                 substr(hi, 2 * i + 1, 1)) - 1) * 16
                         + strpos('0123456789ABCDEF',
                                  substr(hi, 2 * i + 2, 1)) - 1) - 255)
               AS s
      FROM h
    ),
    frames AS (
      SELECT doc_id, f.f AS frame_idx, s[f.f * 8 + 1 : f.f * 8 + 16] AS w
      FROM samp, (SELECT unnest(generate_series(0, 2)) AS f) f
    ),
    spec AS (
      SELECT doc_id, frame_idx, w,
             list_transform(generate_series(0, 15),
               i -> list_sum(list_transform(generate_series(0, 15),
                 j -> (CASE WHEN bit_count(CAST(i & j AS BIGINT)) % 2 = 0
                            THEN 1 ELSE -1 END) * w[j + 1]))) AS c
      FROM frames
    )
    SELECT doc_id AS asset_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           md5(array_to_string(c, ',')) AS coeff_checksum,
           CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT)
             AS spec_energy,
           CAST(list_sum(list_transform(w, x -> x * x)) AS BIGINT)
             AS time_energy,
           CASE WHEN list_sum(list_transform(c, x -> x * x))
                     = 16 * list_sum(list_transform(w, x -> x * x))
                THEN 1 ELSE 0 END AS parseval_ok
    FROM spec
    ORDER BY asset_id, frame_idx
    """,
)
def multimodal_wht_spectrum(spark, sf_dir):
    """Exact integer 16-point Walsh-Hadamard spectra of the audio
    frames (operators/multimodal.py wht_spectrum): every coefficient
    is a ±sample sum, the whole spectrum is pinned through an md5
    checksum of its canonical rendering, and Parseval's identity
    Σc² = 16·Σs² rides along as an integer equality — a
    self-verifying spectral transform with a FULL value oracle (the
    hex-space sample reconstruction of multimodal_audio_frames plus
    an in-SQL H matrix from bit_count parity)."""
    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.synthesize_assets(docs).filter(
        F.col("media_type") == "audio"
    )
    return multimodal.wht_spectrum(assets).orderBy("asset_id", "frame_idx")


@query(
    "r16_stream_dedup_bounded_state",
    # full oracle (not rows-only): byte-identical duplicates can never
    # re-emit under dropDuplicatesWithinWatermark — while a key's
    # state is live the dedup drops them, and once the watermark has
    # passed first_ts + delay the replayed row (same event time) is on
    # the wrong side of the same comparison — so the streamed output
    # equals the distinct event set exactly
    "SELECT event_id, user_id, event_type FROM events",
)
def r16_stream_dedup_bounded_state(spark, sf_dir):
    """R1 with BOUNDED state (11th stream==batch pin):
    ``dropDuplicatesWithinWatermark`` keeps a key only until the
    watermark passes its event time + delay, so state size tracks the
    watermark horizon instead of all history — the 100 TB difference
    between this and r1's unbounded ``dropDuplicates`` (whose state
    grows forever and eventually dominates the checkpoint). Staging
    replays the first file (the duplicated-GCS-notification case, as
    r1); the replay processes LAST, after the watermark has advanced
    past the whole event range, and contributes zero rows. The
    key-reuse caveat (same key, NEW event time after state expiry
    re-emits) is the documented at-least-once window every bounded
    dedup accepts; the within-horizon drop is pinned by
    tests/test_streaming.py."""
    import shutil
    import uuid

    from etl_mp_transactions_spark.streaming.filesource import (
        staged_events_cached,
        stream_dedup_run,
    )

    work = run_dir("stream_dedup_ww")
    stage = os.path.join(work, "in")
    cache = staged_events_cached(spark, sf_dir, n_files=4)
    os.makedirs(stage, exist_ok=True)
    for f in os.listdir(cache):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(cache, f), os.path.join(stage, f))
    part = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))[0]
    shutil.copy(
        os.path.join(stage, part),
        os.path.join(stage, f"replay-{uuid.uuid4().hex}.parquet"),
    )
    out = stream_dedup_run(
        spark,
        stage,
        os.path.join(work, "ckpt"),
        os.path.join(work, "out"),
        within_watermark=True,
    )
    return out.select("event_id", "user_id", "event_type")


@query(
    "r17_stream_incremental_dedup",
    """
    WITH newd AS (
      SELECT doc_id, (doc_id // 5) % 4 AS g, md5(text) AS ch
      FROM documents WHERE doc_id % 5 = 0
    ),
    oldc AS (
      SELECT DISTINCT md5(text) AS ch
      FROM documents WHERE doc_id % 5 <> 0
    ),
    fresh AS (
      SELECT * FROM newd WHERE ch NOT IN (SELECT ch FROM oldc)
    ),
    win AS (
      SELECT ch, doc_id,
             row_number() OVER (PARTITION BY ch ORDER BY g, doc_id) AS rn
      FROM fresh
    )
    SELECT ch, doc_id AS canonical_doc_id FROM win WHERE rn = 1
    ORDER BY ch
    """,
)
def r17_stream_incremental_dedup(spark, sf_dir):
    """Streaming incremental corpus dedup (12th stream==batch pin;
    streaming/filesource.stream_incremental_dedup_run): the NEW 20%
    of documents (doc_id % 5 = 0) arrives as four files — one
    micro-batch each, file mtimes pin the processing order — and each
    micro-batch anti-joins content hashes against the persisted
    corpus index, bootstrapped from the OLD 80%. A fifth file
    replays batch 0 after the fact and must contribute ZERO rows.
    Both sinks (survivor output, key commit) overwrite their own
    batch= partition and the anti-join excludes the current batch's
    partition, so any foreachBatch replay recomputes byte-identical
    partitions — exactly-once without a transaction log (operator
    docstring). The full-value oracle derives the same winners
    relationally: first batch containing the hash, min doc_id within
    it. The batch twin is dedup_incremental_new_vs_old; the bounded-
    state story is SeenKeysStore.compact over the same partition
    layout."""
    docs = load_table(spark, sf_dir, "documents")
    work = run_dir("r17_incdedup")
    newd = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "g", F.expr("(doc_id div 5) % 4")
    )
    stage = filesource.stage_arrivals(newd, os.path.join(work, "in"))
    store_dir = os.path.join(work, "store")
    filesource.bootstrap_seen_store(
        spark,
        docs.filter(F.col("doc_id") % 5 != 0).select(
            F.md5("text").alias("ch")
        ).distinct(),
        store_dir,
    )
    out = filesource.stream_incremental_dedup_run(
        spark,
        stage,
        os.path.join(work, "ckpt"),
        os.path.join(work, "out"),
        store_dir,
    )
    return out.orderBy("ch")

from etl_mp_transactions_spark.queries.dedup import minhash_band_ctes  # noqa: E402


@query(
    "r18_stream_neardup_index",
    f"""
    WITH {minhash_band_ctes("documents")},
    grp AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN (doc_id // 5) % 4
                  ELSE -1 END AS g
      FROM documents
    ),
    sk AS (
      SELECT s.doc_id, md5(array_to_string(s.sig, ',')) AS sk, s.sig
      FROM sigs s
    ),
    ex AS (
      SELECT n.doc_id, min(o.doc_id) AS matched_old_id
      FROM sk n
      JOIN grp gn ON gn.doc_id = n.doc_id
      JOIN sk o ON o.sk = n.sk
      JOIN grp go ON go.doc_id = o.doc_id
      WHERE gn.g >= 0 AND go.g < gn.g
      GROUP BY n.doc_id
    ),
    nearc AS (
      SELECT DISTINCT bn.doc_id AS nid, bo.doc_id AS oid
      FROM bands bn
      JOIN bands bo ON bn.band_key = bo.band_key
      JOIN grp gn ON gn.doc_id = bn.doc_id
      JOIN grp go ON go.doc_id = bo.doc_id
      WHERE gn.g >= 0 AND go.g < gn.g
    ),
    near AS (
      SELECT c.nid AS doc_id, min(c.oid) AS matched_old_id
      FROM nearc c
      JOIN sk sa ON sa.doc_id = c.nid
      JOIN sk sb ON sb.doc_id = c.oid
      WHERE len(list_filter(generate_series(1, 16),
                            i -> sa.sig[i] = sb.sig[i])) / 16.0 >= 0.9
        AND sa.sk <> sb.sk
        AND c.nid NOT IN (SELECT doc_id FROM ex)
      GROUP BY c.nid
    )
    SELECT doc_id, 'exact_sig' AS dup_kind, matched_old_id FROM ex
    UNION ALL
    SELECT doc_id, 'near' AS dup_kind, matched_old_id FROM near
    ORDER BY doc_id
    """,
)
def r18_stream_neardup_index(spark, sf_dir):
    """Streaming NEAR-dup against an incrementally-maintained MinHash
    band index (13th stream==batch pin; streaming/filesource.
    stream_neardup_index_run) — with r17's exact stage this completes
    the streaming twin of dedup_incremental_new_vs_old: the NEW 20%
    of documents arrives as four mtime-ordered files; each
    micro-batch resolves identical-signature matches by signature-key
    join (est = 1.0, no verify) and cross-signature near-dups by band
    join against the DISTINCT persisted signatures (bootstrapped from
    the old 80%), verified at est >= 0.9, smallest prior doc id for
    attribution; then the batch's own signatures join the index.
    Replay safety is the r17 no-ledger construction (per-batch
    partition overwrite + self-exclusion + already-indexed-doc skip).
    The oracle re-derives every stage relationally with the portable
    md5 minhash family, including the arrival-order condition (a doc
    in batch g only matches docs from batches < g or the bootstrap
    corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    work = run_dir("r18_neardup")
    newd = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "g", F.expr("(doc_id div 5) % 4")
    )
    stage = filesource.stage_arrivals(newd, os.path.join(work, "in"))
    index_dir = os.path.join(work, "index")
    filesource.bootstrap_neardup_index(
        spark, docs.filter(F.col("doc_id") % 5 != 0), index_dir
    )
    out = filesource.stream_neardup_index_run(
        spark,
        stage,
        os.path.join(work, "ckpt"),
        os.path.join(work, "out"),
        index_dir,
    )
    return out.orderBy("doc_id")



from etl_mp_transactions_spark.queries.ivfpq_q import (  # noqa: E402
    _ARRIVING_PRED,
    _BASE_PRED,
    _ivfpq_ctes,
    materialize_ctes,
)


@query(
    "r19_stream_ivfpq_ingest",
    materialize_ctes(f"""
    WITH {_ivfpq_ctes(_BASE_PRED, _ARRIVING_PRED)}
    SELECT vec_id,
           CAST(any_value(cid) AS BIGINT) AS cid,
           CAST(sum(CAST(code AS BIGINT) * (CAST(1 AS BIGINT) << (4 * m)))
                AS BIGINT) AS pq_code,
           CAST(sum(d2) AS BIGINT) AS distortion
    FROM codes
    GROUP BY vec_id
    ORDER BY vec_id
    """),
)
def r19_stream_ivfpq_ingest(spark, sf_dir):
    """Streaming IVF-PQ vector ingest (14th stream==batch pin;
    streaming/filesource.stream_ivfpq_ingest_run): codebooks are
    fitted on the base slice (vec_id % 8 <> 0) and FROZEN; the
    arriving slice streams in as four mtime-ordered files — one
    micro-batch each — plus a replay of the first file that must
    contribute ZERO rows (already-indexed skip + per-batch partition
    overwrite, the r17 no-ledger construction, made trivial here by
    frozen-book per-vector independence). The final index must equal
    the batch ivfpq_incremental_encode bit for bit — same oracle."""
    from etl_mp_transactions_spark.operators import ivfpq as ivfpq_ops

    emb = load_table(spark, sf_dir, "embeddings")
    work = run_dir("r19_ivfpq")
    arriving = emb.filter(F.expr(_ARRIVING_PRED)).withColumn(
        "g", F.expr("(vec_id div 8) % 4")
    )
    stage = filesource.stage_arrivals(arriving, os.path.join(work, "in"))
    base = emb.filter(F.expr(_BASE_PRED))
    cb = ivfpq_ops.coarse_books(base)
    pb = ivfpq_ops.residual_books(ivfpq_ops.coarse_assign(base, cb))
    out = filesource.stream_ivfpq_ingest_run(
        spark,
        stage,
        os.path.join(work, "ckpt"),
        os.path.join(work, "index"),
        cb,
        pb,
    )
    return out.orderBy("vec_id")


@query(
    "image_phash_neardup",
    """
    WITH st AS (
      SELECT doc_id AS asset_id,
             CAST(doc_id % 5 + 4 AS INT) AS w,
             CAST(doc_id % 4 + 3 AS INT) AS h,
             CAST((doc_id % 5 + 4) * (doc_id % 4 + 3) * 3 AS INT) AS n,
             doc_id % 7 = 3 AS pert,
             upper(md5(text) || md5('x' || text)) AS hex64
      FROM documents
    ),
    ph AS (
      SELECT asset_id, w, h, n,
             CASE WHEN pert THEN substr(fhex, 1, n * 2 - 2) || 'FF'
                  ELSE fhex END AS phex
      FROM (SELECT *, substr(repeat(hex64,
                                    CAST((n * 2 + 63) // 64 AS INT)),
                             1, n * 2) AS fhex
            FROM st)
    ),
    px AS (
      SELECT asset_id, w, h, i,
             ('0x' || substr(phex, i * 6 + 1, 2))::BIGINT
           + ('0x' || substr(phex, i * 6 + 3, 2))::BIGINT
           + ('0x' || substr(phex, i * 6 + 5, 2))::BIGINT AS lum,
             ((i // w) * 3 // h) * 4 + ((i % w) * 4 // w) AS blk
      FROM ph, unnest(generate_series(0, w * h - 1)) AS t(i)
    ),
    bs AS (
      SELECT asset_id, any_value(w) AS w, any_value(h) AS h, blk,
             CAST(sum(lum) AS BIGINT) AS bsum,
             CAST(count(*) AS BIGINT) AS nb
      FROM px GROUP BY asset_id, blk
    ),
    tot AS (
      SELECT asset_id, sum(bsum) AS ts, sum(nb) AS np
      FROM bs GROUP BY asset_id
    ),
    hsh AS (
      SELECT b.asset_id, any_value(b.w) AS w, any_value(b.h) AS h,
             CAST(sum(CASE WHEN b.bsum * t.np > t.ts * b.nb
                           THEN CAST(1 AS BIGINT) << b.blk
                           ELSE 0 END) AS BIGINT) AS phash
      FROM bs b JOIN tot t USING (asset_id)
      GROUP BY b.asset_id
    ),
    bands AS (
      SELECT asset_id, w, h, phash, half,
             (phash >> (6 * half)) & 63 AS bv
      FROM hsh, unnest([0, 1]) AS u(half)
    ),
    cand AS (
      SELECT DISTINCT a.asset_id AS na, b.asset_id AS ob,
             a.phash AS pa, b.phash AS pb
      FROM bands a
      JOIN bands b ON a.w = b.w AND a.h = b.h AND a.half = b.half
                  AND a.bv = b.bv AND a.asset_id > b.asset_id
    ),
    ver AS (
      SELECT na, ob, bit_count(xor(pa, pb)) AS ham
      FROM cand WHERE bit_count(xor(pa, pb)) <= 1
    )
    SELECT asset_id, ob AS matched_earlier_id,
           CAST(ham AS BIGINT) AS hamming
    FROM (SELECT na AS asset_id, ob, ham,
                 row_number() OVER (PARTITION BY na ORDER BY ob) AS rn
          FROM ver)
    WHERE rn = 1
    ORDER BY asset_id
    """,
)
def image_phash_neardup(spark, sf_dir):
    """Perceptual-hash image near-dedup — the multimodal twin of the
    text simhash pipeline (dedup_simhash_hamming) and the operation
    image-corpus curation actually runs (LAION-style thumbnail
    dedup): every document synthesizes its deterministic image
    (md5-tiled RGB; docs with doc_id % 7 = 3 get a one-byte-perturbed
    buffer, so same-text docs across that boundary become true NEAR
    duplicates), goes through the REAL container encode → from-spec
    decode (operators/imagecodec.py — the multimodal_decode path, so
    the hash is computed from what the decoder produced), then an
    aHash-style 4x3 block-mean luminance hash in exact integers
    (cross-multiplied mean comparisons — no division), banded
    hamming-<=1 pairing (two 6-bit halves under (w, h); pigeonhole:
    one flip leaves a half intact), earliest-match attribution.

    Scale: decode is map-only Arrow batches (blobs never shuffle);
    the pixel explode is <=56 rows/image with map-side-combined block
    sums; the pair stage joins band buckets keyed by (dims, half,
    value). At thumbnail sizes the hash carries 12 bits, so band
    occupancy grows with the corpus — production images carry
    64-bit hashes (8x8 grid) where the same banding keeps buckets
    small; the grid size, not the plan, is what a real corpus
    retunes (the PQ parameter note)."""
    docs = load_table(spark, sf_dir, "documents")
    staged = (
        docs.select(
            F.col("doc_id").alias("asset_id"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("ppm"))
            .otherwise(F.lit("bmp"))
            .alias("fmt"),
            (F.col("doc_id") % 5 + 4).cast("int").alias("width"),
            (F.col("doc_id") % 4 + 3).cast("int").alias("height"),
            (F.col("doc_id") % 7 == 3).alias("pert"),
            F.upper(
                F.concat(
                    F.md5("text"), F.md5(F.concat(F.lit("x"), F.col("text")))
                )
            ).alias("hex64"),
        )
        .withColumn("n", F.col("width") * F.col("height") * 3)
        .withColumn(
            "fhex",
            F.expr(
                "substring(repeat(hex64,"
                " cast((n * 2 + 63) div 64 as int)), 1, n * 2)"
            ),
        )
        .withColumn(
            "phex",
            F.when(
                F.col("pert"),
                F.expr("concat(substring(fhex, 1, n * 2 - 2), 'FF')"),
            ).otherwise(F.col("fhex")),
        )
        .select(
            "asset_id", "fmt", "width", "height",
            F.unhex("phex").alias("raw"),
        )
    )
    dec = multimodal.encode_decode_images(staged)
    px = dec.select(
        "asset_id",
        F.col("width").alias("w"),
        F.col("height").alias("h"),
        F.explode(
            F.expr("sequence(0, width * height - 1)")
        ).alias("i"),
        "pixel_hex",
    ).select(
        "asset_id",
        "w",
        "h",
        F.expr(
            "cast(conv(substring(pixel_hex, i * 6 + 1, 2), 16, 10) as bigint)"
            " + cast(conv(substring(pixel_hex, i * 6 + 3, 2), 16, 10) as bigint)"
            " + cast(conv(substring(pixel_hex, i * 6 + 5, 2), 16, 10) as bigint)"
        ).alias("lum"),
        F.expr(
            "((i div w) * 3 div h) * 4 + ((i % w) * 4 div w)"
        ).alias("blk"),
    )
    bs = px.groupBy("asset_id", "blk").agg(
        F.first("w").alias("w"),
        F.first("h").alias("h"),
        F.sum("lum").cast("bigint").alias("bsum"),
        F.count("*").cast("bigint").alias("nb"),
    )
    tot = bs.groupBy("asset_id").agg(
        F.sum("bsum").alias("ts"), F.sum("nb").alias("np")
    )
    hsh = (
        bs.join(tot, "asset_id")
        .groupBy("asset_id")
        .agg(
            F.first("w").alias("w"),
            F.first("h").alias("h"),
            F.sum(
                F.expr(
                    "CASE WHEN bsum * np > ts * nb"
                    " THEN shiftleft(cast(1 as bigint), blk)"
                    " ELSE cast(0 as bigint) END"
                )
            ).cast("bigint").alias("phash"),
        )
    )
    bands = hsh.select(
        "asset_id",
        "w",
        "h",
        "phash",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("half"),
    ).withColumn(
        "bv", F.expr("shiftright(phash, 6 * half) & 63")
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.half") == F.col("b.half"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.asset_id") > F.col("b.asset_id")),
        )
        .select(
            F.col("a.asset_id").alias("na"),
            F.col("b.asset_id").alias("ob"),
            F.col("a.phash").alias("pa"),
            F.col("b.phash").alias("pb"),
        )
        .distinct()
    )
    ver = cand.withColumn(
        "ham", F.expr("bit_count(pa ^ pb)")
    ).filter(F.col("ham") <= 1)
    from pyspark.sql.window import Window as _W

    w1 = _W.partitionBy("na").orderBy("ob")
    return (
        ver.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select(
            F.col("na").alias("asset_id"),
            F.col("ob").alias("matched_earlier_id"),
            F.col("ham").cast("bigint").alias("hamming"),
        )
        .orderBy("asset_id")
    )


from etl_mp_transactions_spark.queries.ivfpq_train_q import (  # noqa: E402
    RERANK_TOPK_SQL,
    _qset_df,
)


@query("r21_stream_rerank_serving", materialize_ctes(RERANK_TOPK_SQL))
def r21_stream_rerank_serving(spark, sf_dir):
    """Streaming refined ANN serving (16th stream==batch pin;
    streaming/filesource.stream_rerank_serving_run): the trained
    books and the encoded corpus are fitted offline and FROZEN; the
    deterministic 64-query serving batch arrives as four
    mtime-ordered files — one micro-batch each — plus a replay of the
    first file that must contribute ZERO rows (already-served skip +
    per-batch partition overwrite, the r19 no-ledger construction,
    trivial again because frozen state makes every query's re-ranked
    top-5 batch-independent). Each micro-batch ADC-retrieves
    REFINE_R candidates and exact-re-ranks them against the original
    vectors — the IndexRefineFlat serving path online. The final
    result table must equal the batch ivfpq_rerank_topk bit for bit —
    same oracle."""
    from etl_mp_transactions_spark.operators import ivfpq_train
    from etl_mp_transactions_spark.operators.ivfpq import _encode_resid
    from etl_mp_transactions_spark.operators.pq import _quantized

    emb = load_table(spark, sf_dir, "embeddings")
    work = run_dir("r21_rerank")
    qv = _quantized(emb, "vec_id")
    qids = _qset_df(qv).select(F.col("query_id").alias("vec_id"))
    arriving = emb.join(
        F.broadcast(qids), "vec_id", "left_semi"
    ).withColumn("g", F.expr("vec_id % 4"))
    stage = filesource.stage_arrivals(arriving, os.path.join(work, "in"))
    cb, pb, resid = ivfpq_train.trained_books(emb)
    codes, _ = _encode_resid(resid, pb)
    out = filesource.stream_rerank_serving_run(
        spark,
        stage,
        os.path.join(work, "ckpt"),
        os.path.join(work, "served"),
        cb,
        pb,
        codes,
        qv,
    )
    return out.orderBy("query_id", "rank")


from etl_mp_transactions_spark.queries.hybrid import (  # noqa: E402
    RRF_FUSION_SQL,
    _NQ as _HYB_NQ,
)


@query("r23_stream_hybrid_serving", RRF_FUSION_SQL)
def r23_stream_hybrid_serving(spark, sf_dir):
    """Streaming hybrid-search serving (18th stream==batch pin;
    streaming/filesource.stream_hybrid_serving_run): the corpus
    (documents + embeddings) is FROZEN; the deterministic 8-query
    batch arrives as four mtime-ordered files — one micro-batch each —
    plus a replay of the first file that must contribute ZERO rows
    (already-served skip + per-batch partition overwrite, the r19
    no-ledger construction — trivial here because per-query hybrid
    results are batch-independent: BM25 df is per-term, corpus stats
    are global, RRF sees only that query's two arm lists). Each
    micro-batch runs the full request path online: lexical BM25 arm
    from the arriving query's doc terms, exact quantized-L2 semantic
    arm from the arriving vector, RRF-fused top-10. The final result
    table must equal the batch hybrid_rrf_fusion bit for bit — same
    oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    work = run_dir("r23_hybrid")
    arriving = emb.filter(F.col("vec_id") < _HYB_NQ).withColumn(
        "g", F.expr("vec_id % 4")
    )
    stage = filesource.stage_arrivals(arriving, os.path.join(work, "in"))
    return filesource.stream_hybrid_serving_run(
        spark,
        stage,
        os.path.join(work, "ckpt"),
        os.path.join(work, "served"),
        sf_dir,
    )


from etl_mp_transactions_spark.queries.video import (  # noqa: E402
    video_scene_cuts as _batch_scene_cuts,
)
from etl_mp_transactions_spark.registry import _ORACLES as _OR  # noqa: E402


@query("r24_stream_scene_cuts", _OR["video_scene_cuts"])
def r24_stream_scene_cuts(spark, sf_dir):
    """Streaming video scene-cut detection (19th stream==batch pin;
    streaming/filesource.stream_scene_cuts_run): the documents table
    arrives as four mtime-ordered files plus a replay of the first
    that must contribute ZERO rows (already-served skip + per-batch
    partition overwrite — trivial because scene detection reads only
    each asset's own bytes). The final scene table must equal the
    batch video_scene_cuts bit for bit — same oracle."""
    docs = load_table(spark, sf_dir, "documents")
    work = run_dir("r24_scenes")
    arriving = docs.withColumn("g", F.expr("doc_id % 4"))
    stage = filesource.stage_arrivals(arriving, os.path.join(work, "in"))
    return filesource.stream_scene_cuts_run(
        spark,
        stage,
        os.path.join(work, "ckpt"),
        os.path.join(work, "served"),
    )

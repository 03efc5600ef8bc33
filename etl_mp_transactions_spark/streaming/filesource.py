"""Structured-Streaming re-expression of the reference's event path
(SURVEY.md §2.7).

Reference semantics → Spark:

- R3 per-file micro-batch (one GCS notification = one pipeline run,
  main.py:92-131): file source with ``maxFilesPerTrigger=1`` /
  ``Trigger.AvailableNow`` — Spark discovers new files natively; no
  Pub/Sub push loop, no HTTP handler.
- R1 cross-batch exactly-once dedup (Redis ``processed_checksums`` set,
  src/redis_tools.py:38-54): ``dropDuplicates`` over the key with the
  checkpointed state store; replaying the same file contributes 0 new
  rows across restarts (checkpoint = the state contract).
- R2 per-key mutex (Redis SET NX EX): not needed — state-store updates
  are transactional per micro-batch.
- R5 sink batching: trigger cadence + ``foreachBatch``.

One driver runs every stream of the package: ``_drain`` sets the
checkpoint, starts with ``Trigger.AvailableNow`` and blocks until the
input is consumed. ``run_available_now_to_parquet`` (file sink),
``run_per_file`` (``maxFilesPerTrigger=1`` into ``foreachBatch``),
``run_to_memory`` (memory sink) and ``stateful.run_stateful`` call
it, and ``stream_files_available_now`` is the one streaming reader.
The ``foreachBatch`` runners keep their per-batch output in a ledger
of ``batch=<id>`` partitions: ``write_ledger`` commits one,
``read_ledger`` reads the others back.

At scale: state for dropDuplicates is partitioned by key across the
cluster; unbounded key-history should switch to
``dropDuplicatesWithinWatermark`` to bound state (both shown here).
"""

from __future__ import annotations

import math
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_mp_transactions_spark.functions.literalframe import literal_frame
from etl_mp_transactions_spark.sources.tables import SCHEMAS

# Settings no caller varies: the dedup and upsert keys, the event-time
# shapes of the windowed/sliding/session runners (one watermark for
# all three), the near-dup verify threshold and the re-rank depth.
_DEDUP_KEY = "event_id"
_UPSERT_KEY = "user_id"
_WINDOW = "1 hour"
_SLIDE = "30 minutes"
_SESSION_GAP = "30 minutes"
_WATERMARK = "2 hours"
_NEARDUP_THRESHOLD = 0.9
_RERANK_K = 5


def stream_files_available_now(
    spark: SparkSession,
    src_dir: str,
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Parquet file-source stream over a directory (the GCS-bucket
    analog)."""
    reader = spark.readStream.format("parquet")
    if schema is not None:
        reader = reader.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(src_dir)


def _drain(writer, checkpoint_dir: str) -> None:
    """Run ``writer`` (a configured ``DataStreamWriter``) as one
    AvailableNow pass recorded in ``checkpoint_dir``, and block until
    it has consumed everything staged."""
    writer.option("checkpointLocation", checkpoint_dir).trigger(
        availableNow=True
    ).start().awaitTermination()


def run_available_now_to_parquet(
    df: DataFrame, checkpoint_dir: str, out_dir: str, partition_by: list[str] | None = None
) -> DataFrame:
    """Shared sink pattern: one AvailableNow pass appending to a
    parquet sink (checkpoint-recoverable), returning the accumulated
    output. Used by the dedup, funnel and silver streams. The sink is
    read back with the schema it was written with, the data columns in
    stream order and then the ``partition_by`` columns, so the read runs
    no schema-inference job."""
    parts = partition_by or []
    writer = df.writeStream.format("parquet").outputMode("append").option(
        "path", out_dir
    )
    if parts:
        writer = writer.partitionBy(*parts)
    _drain(writer, checkpoint_dir)
    written = StructType(
        [f for f in df.schema.fields if f.name not in parts]
        + [df.schema[c] for c in parts]
    )
    return df.sparkSession.read.schema(written).parquet(out_dir)


def run_per_file(
    spark: SparkSession, src_dir: str, schema, checkpoint_dir: str, fn
) -> None:
    """One micro-batch per file under ``src_dir`` (read with
    ``schema``, in modification-time order), each handed to
    ``fn(batch_df, batch_id)``: the per-notification loop of the
    reference, run as one AvailableNow pass."""
    stream = stream_files_available_now(
        spark, src_dir, schema, max_files_per_trigger=1
    )
    _drain(stream.writeStream.foreachBatch(fn), checkpoint_dir)


def run_to_memory(
    df: DataFrame, src_dir: str, checkpoint_dir: str, output_mode: str
) -> DataFrame:
    """Run the stateful stream ``df`` over the files staged in
    ``src_dir`` into a memory sink under a fresh query name, with its
    state partitions sized from those files, and return the sink's
    table. The sink's view is dropped before returning: the returned
    frame's analyzed plan already holds the sink's rows, and a view left
    registered would keep them for the session's lifetime."""
    spark = df.sparkSession
    name = f"mem_{uuid.uuid4().hex}"
    with scaled_state_partitions(spark, src_dir):
        _drain(
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode),
            checkpoint_dir,
        )
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def _staged_bytes(
    src_dir: str, max_files_per_trigger: int | None = None
) -> tuple[int, int]:
    """(bytes of every file the file source would read under
    ``src_dir``, bytes one trigger reads). Names starting with ``_`` or
    ``.`` are skipped, as the file source skips them. With
    ``max_files_per_trigger`` a trigger reads that many files of the
    mean size; without it a trigger can read everything staged."""
    sizes = []
    for root, dirs, fs in os.walk(src_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in fs:
            if f.startswith(("_", ".")):
                continue
            try:
                sizes.append(os.path.getsize(os.path.join(root, f)))
            except OSError:
                pass
    total = sum(sizes)
    if max_files_per_trigger and len(sizes) > max_files_per_trigger:
        return total, math.ceil(total * max_files_per_trigger / len(sizes))
    return total, total


class scaled_state_partitions:
    """Context manager: size a stateful stream over a staged file
    source from the staged bytes, for the duration of one stream
    start+await. Two counts, both ceil(bytes / target), where the
    target is env-tunable (SPARK_GRAFT_STREAM_PART_BYTES, default
    64 MiB — at cluster scale raise toward 128-512 MiB so state stores
    stay few and fat):

    - ``.partitions``, the STATE PARTITIONS: ceil(staged bytes /
      target), floor 8, pinned as ``spark.sql.shuffle.partitions``
      and restored on exit. A stateful query's state partitioning is
      FIXED at that conf when the query FIRST starts — the count is
      written into the checkpoint and every restart reuses it — and
      AQE cannot coalesce it (AQE is disabled for stateful workloads),
      so inheriting the session's batch default (2·cores at the bench)
      pays the per-partition per-operator store open/commit fixed cost
      regardless of data size — measured on the sf0.1 funnel join:
      64 partitions = 14.5s (4.7s for the EMPTY finalization batch),
      8 partitions = 6.1s, identical output. The floor keeps room for
      the input to grow after the first start. Streaming reads the
      conf at query start; batch queries in the same session are
      unaffected because every runner here blocks until its stream
      terminates.
    - ``.tasks``, the TASKS PER BATCH a runner may coalesce the state
      partitions into before its sink: ceil(bytes one trigger reads /
      target), no floor. A coalesce is plan, not checkpoint, so this
      count is derived again on EVERY start. Each sink task writes its
      own files, one per output partition value, and deserializes the
      Hadoop conf. Each sink file is two files on disk (the file and
      its ``.crc``), and each task runs the commit protocol: it makes
      its ``_temporary`` attempt directories, then the job commit
      lists and renames every task's output into place. A small batch
      spread over 8 tasks pays 8x that fixed cost for no parallel
      gain. Pass ``max_files_per_trigger`` when the stream sets it:
      the count then follows the mean file size, not the bucket.
      Without it the count follows everything staged, which
      over-counts a restart that reads only new files once the staged
      total passes the target.

    Deriving both from the staged input size (guide §2.2 "fewer,
    larger partitions", made scale-adaptive) keeps the local bench
    honest and grows the counts linearly with the corpus."""

    def __init__(
        self,
        spark: SparkSession,
        src_dir: str,
        max_files_per_trigger: int | None = None,
    ):
        self._spark = spark
        self._src_dir = src_dir
        self._max_files = max_files_per_trigger
        self._old: str | None = None

    def __enter__(self):
        target = int(
            os.environ.get("SPARK_GRAFT_STREAM_PART_BYTES", str(64 * 1024 * 1024))
        )
        total, per_trigger = _staged_bytes(self._src_dir, self._max_files)
        self.partitions = max(8, math.ceil(total / target))
        self.tasks = max(1, math.ceil(per_trigger / target))
        self._old = self._spark.conf.get("spark.sql.shuffle.partitions")
        self._spark.conf.set("spark.sql.shuffle.partitions", str(self.partitions))
        return self

    def __exit__(self, *exc):
        self._spark.conf.set("spark.sql.shuffle.partitions", self._old)
        return False


def stream_dedup_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    within_watermark: bool = False,
) -> DataFrame:
    """Run one AvailableNow pass: read files → exactly-once dedup on
    ``event_id`` → append to a parquet sink (a file sink, unlike the
    memory sink, supports checkpoint recovery — and is the realistic
    K1 shape). Returns the accumulated output. Re-running with the same
    checkpoint after re-adding an already-seen file appends 0 new rows
    (the R1 replay contract — tested in tests/test_streaming.py)."""
    stream = stream_files_available_now(spark, src_dir, schema=_events_schema())
    if within_watermark:
        # watermarks require TIMESTAMP (with-timezone); the source ts is
        # timestamp_ntz and the session TZ is UTC, so the cast is
        # instant-preserving (same as the windowed/session paths)
        deduped = (
            stream.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark([_DEDUP_KEY])
        )
    else:
        deduped = stream.dropDuplicates([_DEDUP_KEY])
    with scaled_state_partitions(spark, src_dir):
        return run_available_now_to_parquet(deduped, checkpoint_dir, out_dir)


def _watermarked_events(spark: SparkSession, src_dir: str) -> DataFrame:
    """The staged events as a stream with a ``_WATERMARK`` watermark on
    ``ts``. Watermarks require TIMESTAMP (with-timezone); the session
    TZ is UTC, so the ntz→ltz cast is instant-preserving."""
    stream = stream_files_available_now(spark, src_dir, schema=_events_schema())
    return stream.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", _WATERMARK
    )


def stream_windowed_counts_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over the event stream —
    the streaming twin of the batch `window_tumbling` query (same
    F.window expression; late rows beyond the watermark drop).

    output_mode: 'append' emits only watermark-finalized windows (the
    production low-latency shape — windows above the final watermark
    are withheld at end-of-stream); 'complete' re-emits every window,
    which makes a finite AvailableNow run equal the batch aggregation
    exactly — the mode the oracle-checked registry entry uses."""
    agg = (
        _watermarked_events(spark, src_dir)
        .groupBy(F.window("ts", _WINDOW), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return run_to_memory(agg, src_dir, checkpoint_dir, output_mode)


def stream_sliding_counts_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Watermarked SLIDING-window aggregation over the event stream —
    the streaming twin of the batch `window_sliding` query (same
    F.window(size, slide) expression; each event feeds size/slide
    overlapping windows). Complete-mode AvailableNow makes the finite
    run equal the batch aggregation exactly; the per-event fan-out to
    overlapping windows happens inside Spark's stateful window
    operator, not by materializing duplicate rows."""
    agg = (
        _watermarked_events(spark, src_dir)
        .groupBy(F.window("ts", _WINDOW, _SLIDE))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "n",
            "total_value",
        )
    )
    return run_to_memory(agg, src_dir, checkpoint_dir, output_mode)


def stream_session_counts_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Watermarked session-window aggregation over the event stream —
    the streaming twin of the batch `window_session` query (same
    F.session_window expression; the state store merges sessions that
    span micro-batch boundaries).

    In complete mode a finite AvailableNow run emits every merged
    session, so the result equals batch sessionization exactly — the
    oracle-checked mode. Append mode (watermark-finalized sessions
    only) is the production shape; sessions still open at end-of-
    stream are withheld there, so it is exercised in tests, not the
    oracle entry."""
    agg = (
        _watermarked_events(spark, src_dir)
        .groupBy(F.col("user_id"), F.session_window("ts", _SESSION_GAP))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
        )
    )
    return run_to_memory(agg, src_dir, checkpoint_dir, output_mode)


def stream_continuous_agg_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    state_dir: str,
) -> DataFrame:
    """Continuous aggregate (hypertable-rollup contract): each
    micro-batch writes its *partial* aggregate (count + exact-cents
    sum per (hour, event_type)) to a path keyed by the batch id; the
    readable view merges all batch partials with one group-by.

    Exactly-once without sink transactions: aggregate merges are NOT
    idempotent under foreachBatch replay (a re-run batch would
    double-count if merged in place), but the ledger write keyed by
    batch_id is — replaying batch b rewrites ``batch=<id>`` with
    identical content instead of adding to it. Merge cost at read ∝
    number of batch partials × group cardinality (kilobytes each); a
    periodic compaction folds old partials into one (same algebra,
    same guarantee).

    The batch twin is a plain groupBy over all events — equality is
    the oracle statement (streaming partial-merge == batch)."""

    def write_partial(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"),
            "event_type",
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "value_cents"
            ),
        )
        write_ledger(partial, state_dir, batch_id)

    run_per_file(spark, src_dir, _events_schema(), checkpoint_dir, write_partial)
    return (
        _read_batches(
            spark,
            state_dir,
            "window_start timestamp, event_type string, n bigint,"
            " value_cents bigint",
        )
        .groupBy("window_start", "event_type")
        .agg(
            F.sum("n").alias("n"),
            (F.sum("value_cents").cast("double") / 100).alias("total_value"),
        )
    )


def stream_upsert_latest_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    state_dir: str,
) -> DataFrame:
    """Keep-latest upsert sink via ``foreachBatch`` — the streaming
    MERGE INTO contract (R5 + K1): each micro-batch merges into a
    state table keyed on ``user_id``, newest row per key wins (ordered
    by ts, then event_id as the deterministic tiebreak).

    The merge is a max-by — associative, commutative, idempotent — so
    the final table equals the batch "latest per key" regardless of
    file arrival order or micro-batch boundaries, and batch replay
    after a restart converges to the same state (exactly-once effect
    without sink transactions).

    State here is a versioned parquet swap, as the package uses no
    table format: every attempt of a batch writes a fresh version
    directory, a ``LIVE`` file names the current one and is replaced
    atomically, and only after that are older versions deleted. A
    batch that fails anywhere in the swap leaves ``LIVE`` naming
    either the old or the new state, never none, so its re-execution
    merges into complete state. On a real deployment this callback
    body is one ``MERGE INTO`` against Delta/Iceberg and the swap
    bookkeeping disappears. Scale shape: per-batch shuffle on the key
    only — old state is read back keyed, never collected."""
    import shutil

    from pyspark.sql import Window

    pointer = os.path.join(state_dir, "LIVE")

    def live() -> str | None:
        if not os.path.exists(pointer):
            return None
        with open(pointer) as f:
            return os.path.join(state_dir, f.read())

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        w = Window.partitionBy(_UPSERT_KEY).orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        latest = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        old = live()
        if old is not None:
            merged = (
                sess.read.parquet(old)
                .unionByName(latest)
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )
        else:
            merged = latest
        version = f"v{batch_id}-{uuid.uuid4().hex[:8]}"
        merged.write.parquet(os.path.join(state_dir, version))
        with open(pointer + ".tmp", "w") as f:
            f.write(version)
        os.replace(pointer + ".tmp", pointer)
        for d in os.listdir(state_dir):
            if d.startswith("v") and d != version:
                shutil.rmtree(os.path.join(state_dir, d), ignore_errors=True)

    run_per_file(spark, src_dir, _events_schema(), checkpoint_dir, merge_batch)
    return spark.read.parquet(live())


def _events_schema():
    """events schema with µs timestamps (streams are written by our own
    staging copy, which normalizes the nanos column)."""
    return SCHEMAS["events"]


def stage_events_as_files(
    spark: SparkSession, sf_dir: str, stage_dir: str, n_files: int = 4
) -> str:
    """Copy the events table into `stage_dir` as n parquet files — the
    'bucket' a file-source stream watches. Uses the typed loader so the
    nanos column is normalized once at staging time."""
    from etl_mp_transactions_spark.sources.tables import load_table

    os.makedirs(stage_dir, exist_ok=True)
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(n_files).write.mode("overwrite").parquet(stage_dir)
    return stage_dir


# bump when the staging layout above changes (cache key below;
# v2: completeness marked by _DONE)
_EVENTS_STAGE_VERSION = "v2"


def staged_events_cached(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> str:
    """Immutable staged copy of the events table, built once per
    (SF, n_files, version) on this machine by
    ``workdirs.publish_fixture`` — streaming queries stream FROM here
    (or file-copy from here when they need a private mutable stage),
    so repeated gate/bench runs pay the staging Spark job zero times
    instead of once per query run. Content is a pure function of the
    source table, so any published copy is identical."""
    import tempfile

    from etl_mp_transactions_spark.workdirs import publish_fixture

    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return publish_fixture(
        os.path.join(
            tempfile.gettempdir(),
            f"sg_events_stage_{_EVENTS_STAGE_VERSION}_{sf_tag}_{n_files}",
        ),
        lambda staging: stage_events_as_files(
            spark, sf_dir, staging, n_files=n_files
        ),
    )


def staged_event_batches_cached(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> str:
    """Immutable staged copy of events split into n_batches files by
    the SQL-expressible rule ``event_id % n_batches`` with strictly
    increasing modification times, so a ``maxFilesPerTrigger=1``
    stream processes batch b exactly b-th — the precondition for an
    ORACLE-checkable watermark/late-data policy (the plain
    repartition staging above has no SQL-expressible row→file rule).
    Published like staged_events_cached."""
    import tempfile

    from etl_mp_transactions_spark.sources.tables import load_table
    from etl_mp_transactions_spark.workdirs import publish_fixture

    def build(staging: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        for b in range(n_batches):
            write_single_file(
                ev.filter(F.col("event_id") % n_batches == b),
                os.path.join(staging, f"batch-{b:04d}.parquet"),
                _ARRIVAL_T0 + b,
            )

    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return publish_fixture(
        os.path.join(
            tempfile.gettempdir(),
            f"sg_event_batches_{_EVENTS_STAGE_VERSION}_{sf_tag}_{n_batches}",
        ),
        build,
    )


# Arrival staging for the exactly-once file-stream runners: a fixed
# epoch makes mtime order == batch order; the arriving rows come in
# _ARRIVAL_GROUPS files, and the first is delivered a second time.
_ARRIVAL_T0 = 1_700_000_000
_ARRIVAL_GROUPS = 4


def write_single_file(df: DataFrame, dst: str, mtime: int) -> None:
    """Write ``df`` as the one parquet file ``dst`` stamped with
    ``mtime``. Spark writes a directory of part files, so the frame
    is coalesced to one partition, written into a hidden scratch dir
    beside ``dst`` (the file source skips ``_`` names), and its one
    part file is moved to ``dst``; the scratch dir is removed."""
    import shutil

    scratch = os.path.join(
        os.path.dirname(dst), "_" + os.path.basename(dst)
    )
    df.coalesce(1).write.mode("overwrite").parquet(scratch)
    part = next(
        f for f in os.listdir(scratch)
        if f.endswith(".parquet") and not f.startswith("_")
    )
    os.replace(os.path.join(scratch, part), dst)
    shutil.rmtree(scratch)
    os.utime(dst, (mtime, mtime))


def stage_arrivals(arriving: DataFrame, stage_dir: str) -> str:
    """Stage the input of an exactly-once stream runner and return
    ``stage_dir``: the rows of ``arriving`` with ``g = 0..3`` become
    ``f0.parquet`` .. ``f3.parquet`` (``g`` dropped), stamped
    ``t0 + 10·g`` so a ``maxFilesPerTrigger=1`` stream makes one
    micro-batch of each, in order; then a ``replay-<uuid8>.parquet``
    copy of ``f0`` stamped ``t0 + 40`` arrives last — the re-delivered
    file that must contribute zero rows."""
    import shutil
    import uuid

    os.makedirs(stage_dir, exist_ok=True)
    for g in range(_ARRIVAL_GROUPS):
        write_single_file(
            arriving.filter(F.col("g") == g).drop("g"),
            os.path.join(stage_dir, f"f{g}.parquet"),
            _ARRIVAL_T0 + 10 * g,
        )
    replay = os.path.join(stage_dir, f"replay-{uuid.uuid4().hex[:8]}.parquet")
    shutil.copy(os.path.join(stage_dir, "f0.parquet"), replay)
    t = _ARRIVAL_T0 + 10 * _ARRIVAL_GROUPS
    os.utime(replay, (t, t))
    return stage_dir


def _read_batches(spark: SparkSession, root: str, schema: str) -> DataFrame:
    """Every ``batch=<id>`` partition under ``root``, as the declared
    columns. Reads the directory, not a ``batch=*`` glob: a glob makes
    the reader probe for a sink metadata log under it and log a
    FileNotFoundException stack on every call. The ``batch`` column
    that partition discovery adds is dropped by the select."""
    return spark.read.schema(schema).parquet(root).select(
        *StructType.fromDDL(schema).fieldNames()
    )


def read_ledger(
    spark: SparkSession, root: str, schema: str, skip: int | None = None
) -> DataFrame:
    """The committed ``batch=<id>`` partitions under ``root`` (missing
    root: none), read with the declared ``schema``; with ``skip``, all
    but ``batch=<skip>``. Every other partition, ``batch=base`` and
    ``batch=-1`` included, is kept. No partition: an empty frame of
    exactly ``schema``.

    This is the exactly-once step of every ``foreachBatch`` runner
    below: a micro-batch anti-joins against the ledger minus its OWN
    partition, so a re-executed batch id sees the state from before
    its first attempt and rewrites byte-identical output."""
    own = None if skip is None else f"batch={skip}"
    dirs = [
        os.path.join(root, d)
        for d in sorted(os.listdir(root))
        if d.startswith("batch=") and d != own
    ] if os.path.isdir(root) else []
    if not dirs:
        return literal_frame(spark, [], schema)
    return spark.read.schema(schema).parquet(*dirs)


def write_ledger(df: DataFrame, root: str, batch_id) -> str:
    """Commit ``df`` as the ``batch=<batch_id>`` partition of the
    ledger under ``root`` (``batch_id`` a micro-batch id, or ``-1`` /
    ``"base"`` for a bootstrap generation), replacing any earlier
    attempt of the same batch, and return its path. The write half of
    :func:`read_ledger`."""
    path = os.path.join(root, f"batch={batch_id}")
    df.write.mode("overwrite").parquet(path)
    return path


def stream_incremental_dedup_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    store_dir: str,
) -> DataFrame:
    """Streaming incremental corpus dedup (R17): new documents arrive
    as files; each micro-batch anti-joins its content hashes against
    the persisted corpus index (a batch-partitioned parquet key
    store), emits the survivors, and commits their keys — the
    streaming twin of the batch ``dedup_incremental_new_vs_old``
    (queries/dedup.py) and the scaled shape of the reference's
    Redis-checked ingest loop (src/redis_tools.py:38-54 +
    main.py:92-131, one notification = one micro-batch).

    REPLAY SAFETY WITHOUT A LEDGER: foreachBatch may re-run a batch
    id after a failure, and the naive write-then-commit order breaks
    either way it interleaves (commit-first makes the rerun's
    anti-join empty and wipes the rewritten output; output-first
    duplicates keys). Here BOTH sinks are deterministic functions of
    (batch content, batch id, store-minus-this-batch): the anti-join
    reads every store partition EXCEPT ``batch=<this id>``, and both
    the output and the key commit overwrite their own
    ``batch=<id>`` partition. Any rerun recomputes byte-identical
    partitions — idempotent under arbitrary replay, no transaction
    log needed. Bootstrap corpus keys load under ``batch=-1`` via
    :func:`bootstrap_seen_store`.

    State is BOUNDED the same way the batch store is: the partition
    layout is exactly SeenKeysStore's append pattern, so
    ``SeenKeysStore(spark, store_dir).compact(retention=, now=)``
    applies between runs (drop expired keys, collapse partitions) —
    run it while the stream is stopped, as with any file-store
    maintenance.
    """
    key_schema = "ch string"

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window

        keyed = batch_df.withColumn("ch", F.md5("text"))
        w = Window.partitionBy("ch").orderBy("doc_id")
        first = (
            keyed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        new_rows = first.join(
            F.broadcast(read_ledger(spark, store_dir, key_schema, batch_id)),
            "ch",
            "left_anti",
        ).localCheckpoint(eager=True)
        write_ledger(
            new_rows.select("ch", F.col("doc_id").alias("canonical_doc_id")),
            out_dir,
            batch_id,
        )
        write_ledger(new_rows.select("ch"), store_dir, batch_id)

    run_per_file(spark, src_dir, SCHEMAS["documents"], checkpoint_dir, dedup_batch)
    return _read_batches(spark, out_dir, "ch string, canonical_doc_id long")


def bootstrap_seen_store(
    spark: SparkSession, keys: DataFrame, store_dir: str
) -> None:
    """Load an existing corpus's content hashes into the incremental
    store as the ``batch=-1`` generation (``keys``: one string column
    named ch)."""
    write_ledger(keys.select("ch"), store_dir, -1)


def stream_neardup_index_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    index_dir: str,
) -> DataFrame:
    """Streaming NEAR-dup against an incrementally-maintained MinHash
    band index (R18) — the near-duplicate stage of the continuous-
    crawl ingest loop, completing the streaming twin of the batch
    ``dedup_incremental_new_vs_old`` (r17 covers its exact stage).

    Each micro-batch: signatures for the arriving docs
    (textdedup.minhash_signatures — 16 portable md5-derived hashes, 2
    LSH bands), identical-signature matches by signature-key join
    (est ≡ 1.0, no verification), cross-signature candidates by band
    join against the DISTINCT persisted signatures (the
    dedup_minhash_lsh collapse lesson — buckets never hold doc
    copies), zip_with agreement verify at est ≥ 0.9, smallest
    matching prior doc id for canonical attribution. Then ALL
    arriving docs' signature rows commit to the index — they are
    corpus now.

    Replay safety is r17's no-ledger construction: both sinks
    overwrite their own ``batch=<id>`` partition, matching reads
    every index partition EXCEPT ``batch=<id>``, and docs whose ids
    are already indexed are skipped entirely (an at-least-once
    re-delivered FILE contributes zero; a re-run BATCH recomputes
    byte-identical partitions). Bootstrap the existing corpus with
    :func:`bootstrap_neardup_index` (``batch=-1``). State is the
    parquet index — SeenKeysStore.compact's layout, same maintenance
    story.
    """
    from etl_mp_transactions_spark.operators import textdedup

    nh = textdedup.NUM_HASHES
    idx_schema = (
        "doc_id long, sk string, sig array<bigint>,"
        " band_0 string, band_1 string"
    )

    def match_batch(batch_df: DataFrame, batch_id: int) -> None:
        old = read_ledger(spark, index_dir, idx_schema, batch_id)
        fresh = batch_df.join(
            F.broadcast(old.select("doc_id").distinct()),
            "doc_id",
            "left_anti",
        )
        sig = textdedup.minhash_signatures(fresh)
        hcols = [F.col(f"h{i}").cast("string") for i in range(nh)]
        sig_arr = F.array(*[F.col(f"h{i}") for i in range(nh)])
        rows = sig.withColumn("sk", F.md5(F.concat_ws(",", *hcols))).select(
            "doc_id", "sk", sig_arr.alias("sig"), "band_0", "band_1"
        ).localCheckpoint(eager=True)
        old_min = old.groupBy("sk").agg(F.min("doc_id").alias("old_id"))
        exact = (
            rows.join(old_min, "sk")
            .groupBy("doc_id")
            .agg(F.min("old_id").alias("matched_old_id"))
        )
        old_sig = old.dropDuplicates(["sk"]).select(
            F.col("sk").alias("osk"),
            F.col("sig").alias("osig"),
            "band_0",
            "band_1",
        )
        osk_min = old_min.select(F.col("sk").alias("osk"), "old_id")
        bandx = F.explode(F.array("band_0", "band_1")).alias("band_key")
        bn = rows.dropDuplicates(["sk"]).select("sk", "sig", bandx)
        bo = old_sig.select("osk", "osig", bandx)
        agree = F.size(
            F.filter(
                F.expr("zip_with(sig, osig, (a, b) -> a = b)"),
                lambda x: x,
            )
        )
        cross = (
            bn.join(bo, "band_key")
            .filter(F.col("sk") != F.col("osk"))
            .dropDuplicates(["sk", "osk"])
            .withColumn("est", agree / F.lit(float(nh)))
            .filter(F.col("est") >= _NEARDUP_THRESHOLD)
            .select("sk", "osk")
        )
        cross_min = (
            cross.join(osk_min, "osk")
            .groupBy("sk")
            .agg(F.min("old_id").alias("cross_old"))
        )
        near = (
            rows.select("doc_id", "sk")
            .join(cross_min, "sk")
            .join(exact.select("doc_id"), "doc_id", "left_anti")
            .select(
                "doc_id", F.col("cross_old").alias("matched_old_id")
            )
        )
        out = exact.select(
            "doc_id",
            F.lit("exact_sig").alias("dup_kind"),
            "matched_old_id",
        ).unionByName(
            near.select(
                "doc_id", F.lit("near").alias("dup_kind"), "matched_old_id"
            )
        ).localCheckpoint(eager=True)
        write_ledger(out, out_dir, batch_id)
        write_ledger(rows, index_dir, batch_id)

    run_per_file(spark, src_dir, SCHEMAS["documents"], checkpoint_dir, match_batch)
    return _read_batches(
        spark, out_dir, "doc_id long, dup_kind string, matched_old_id long"
    )


def bootstrap_neardup_index(
    spark: SparkSession, docs: DataFrame, index_dir: str
) -> None:
    """Index an existing corpus's signatures as ``batch=-1``."""
    from etl_mp_transactions_spark.operators import textdedup

    nh = textdedup.NUM_HASHES
    sig = textdedup.minhash_signatures(docs)
    hcols = [F.col(f"h{i}").cast("string") for i in range(nh)]
    sig_arr = F.array(*[F.col(f"h{i}") for i in range(nh)])
    write_ledger(
        sig.withColumn("sk", F.md5(F.concat_ws(",", *hcols))).select(
            "doc_id", "sk", sig_arr.alias("sig"), "band_0", "band_1"
        ),
        index_dir,
        -1,
    )


def stream_ivfpq_ingest_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    index_dir: str,
    cb: DataFrame,
    pb: DataFrame,
) -> DataFrame:
    """Streaming IVF-PQ vector ingest (R19): arriving embedding
    batches encode against FROZEN codebooks (operators/ivfpq.py
    encode_against_books) and append to a batch-partitioned parquet
    code index — the streaming twin of the batch
    ``ivfpq_incremental_encode`` and the ingest loop a production ANN
    index actually runs (fit/refresh the quantizers offline, encode
    the firehose online; stored codes never change).

    Replay safety is the r17/r18 no-ledger construction, SIMPLER here
    because frozen books make every vector's code independent of its
    batch (pinned by tests/test_ivfpq.py): the sink overwrites its
    own ``batch=<id>`` partition (re-run batches recompute
    byte-identical partitions), and an at-least-once re-delivered
    FILE contributes zero via the already-indexed skip (anti-join
    against every index partition except this batch's own).
    """
    from etl_mp_transactions_spark.operators import ivfpq as ivfpq_ops

    idx_schema = "vec_id long, cid long, pq_code long, distortion long"

    def encode_batch(batch_df: DataFrame, batch_id: int) -> None:
        indexed = read_ledger(spark, index_dir, idx_schema, batch_id)
        fresh = batch_df.join(
            indexed.select("vec_id"), "vec_id", "left_anti"
        )
        _, packed = ivfpq_ops.encode_against_books(fresh, cb, pb)
        write_ledger(
            packed.select(
                "vec_id",
                F.col("cid").cast("long").alias("cid"),
                "pq_code",
                "distortion",
            ),
            index_dir,
            batch_id,
        )

    run_per_file(spark, src_dir, SCHEMAS["embeddings"], checkpoint_dir, encode_batch)
    return _read_batches(spark, index_dir, idx_schema)


def stream_quality_gate_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    verdict_dir: str,
    lm: DataFrame,
    params: DataFrame,
) -> DataFrame:
    """Streaming quality gate (R20): arriving document batches score
    against the FROZEN feature LM + logistic model
    (queries/quality_clf.score_against) and append to a
    batch-partitioned verdict table — the deployed life of a trained
    corpus filter (fit offline, gate the crawl firehose online).

    Replay safety is the r19 construction: frozen state makes every
    document's verdict independent of its batch, so the sink
    overwrites its own ``batch=<id>`` partition (re-runs recompute
    byte-identical partitions) and an at-least-once re-delivered file
    contributes zero via the already-scored skip (anti-join against
    every verdict partition except this batch's own)."""
    from etl_mp_transactions_spark.queries.quality_clf import score_against

    out_schema = "doc_id long, lang string, x long, p_nano long, keep boolean"

    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        scored = read_ledger(spark, verdict_dir, out_schema, batch_id)
        fresh = batch_df.join(
            scored.select("doc_id"), "doc_id", "left_anti"
        )
        write_ledger(score_against(fresh, lm, params), verdict_dir, batch_id)

    run_per_file(spark, src_dir, SCHEMAS["documents"], checkpoint_dir, score_batch)
    return _read_batches(spark, verdict_dir, out_schema)


def stream_rerank_serving_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    cb: DataFrame,
    pb: DataFrame,
    codes: DataFrame,
    vectors: DataFrame,
) -> DataFrame:
    """Streaming refined ANN serving (R21): arriving QUERY batches
    ADC-retrieve against the FROZEN trained index and exact-re-rank
    against the original vectors (operators/ivfpq_train.py
    rerank_exact — the IndexRefineFlat serving path), appending to a
    batch-partitioned result table. This is the online half of the
    production lifecycle: books trained and corpus encoded offline
    (both frozen here), the query firehose served online.

    Replay safety is the r19 construction, trivial again by frozen
    state: every query's top-k is independent of its batch, so the
    sink overwrites its own ``batch=<id>`` partition and an
    at-least-once re-delivered file contributes zero via the
    already-served skip (anti-join on query_id against every result
    partition except this batch's own)."""
    from etl_mp_transactions_spark.operators.ivfpq_train import (
        rerank_exact,
    )
    from etl_mp_transactions_spark.operators.pq import _quantized

    out_schema = "query_id long, vec_id long, exact_d2 long, rank long"

    # the exact-rerank side is FROZEN across the stream: materialize
    # the quantized corpus once per run (lazy localCheckpoint — first
    # micro-batch pays it, the rest read it) instead of re-running the
    # parquet scan + quantize per batch (the r23 corpus-side pattern)
    vectors = vectors.localCheckpoint(eager=False)

    def serve_batch(batch_df: DataFrame, batch_id: int) -> None:
        qset = _quantized(batch_df, "vec_id").select(
            F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
        )
        served = read_ledger(spark, out_dir, out_schema, batch_id)
        fresh = qset.join(
            served.select("query_id").distinct(), "query_id", "left_anti"
        )
        write_ledger(
            rerank_exact(fresh, cb, pb, codes, vectors, _RERANK_K),
            out_dir,
            batch_id,
        )

    run_per_file(spark, src_dir, SCHEMAS["embeddings"], checkpoint_dir, serve_batch)
    return _read_batches(spark, out_dir, out_schema)


def stream_delete_tombstones_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    tomb_dir: str,
) -> DataFrame:
    """Streaming DELETE ingestion (R22): arriving tombstone-id
    batches append to a batch-partitioned parquet tombstone table —
    the delete half of the index-maintenance lifecycle
    (queries/ivfpq_train_q.ivfpq_delete_serve consumes the final
    set). Replay safety is the r17/r19 no-ledger construction, and
    deletes make it doubly safe: the sink overwrites its own
    ``batch=<id>`` partition and an at-least-once re-delivered file
    contributes zero rows via the already-tombstoned skip — and even
    a duplicate that slipped through would be erased by the
    ``distinct()`` read (tombstones are a set union; deletes are
    idempotent by nature)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        fresh = batch_df.select("vec_id").join(
            read_ledger(spark, tomb_dir, "vec_id long", batch_id),
            "vec_id",
            "left_anti",
        )
        write_ledger(fresh, tomb_dir, batch_id)

    run_per_file(spark, src_dir, "vec_id long", checkpoint_dir, apply_batch)
    return _read_batches(spark, tomb_dir, "vec_id long").distinct()


def stream_hybrid_serving_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    sf_dir: str,
) -> DataFrame:
    """Streaming HYBRID search serving (R23): arriving QUERY batches
    (embeddings rows) are served against the frozen corpus — lexical
    BM25 arm from the query doc's terms, exact quantized-L2 semantic
    arm from the arriving vector, RRF-fused top-10 — appending to a
    batch-partitioned result table (queries/hybrid.py is the batch
    twin; same oracle).

    Replay safety is the r19/r21 no-ledger construction: per-query
    results are batch-independent (BM25 df is per-term, corpus stats
    are global, fusion sees only that query's two arm lists), so the
    sink overwrites its own ``batch=<id>`` partition and an
    at-least-once re-delivered file contributes zero via the
    already-served skip (anti-join on query_id against every result
    partition except this batch's own)."""
    from etl_mp_transactions_spark.operators.pq import _quantized
    from etl_mp_transactions_spark.queries.hybrid import (
        _fused,
        _lex_arm_build,
        _sem_arm_build,
        _tokens_expr,
    )
    from etl_mp_transactions_spark.sources.tables import load_table

    out_schema = (
        "query_id long, doc_id long, r_lex long, r_sem long,"
        " rrf_nano long, fused_rank long"
    )

    # Corpus-side state is FROZEN across the stream: tokenize the
    # document corpus and quantize the embedding corpus ONCE per run
    # (lazy localCheckpoint — materialized by the first micro-batch,
    # served to the rest) instead of re-running both corpus scans in
    # every micro-batch. Within-one-declared-query reuse only; the
    # arriving-query work (qterms, tf band, d2 scan, fusion) stays
    # fully per-batch.
    toks = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", _tokens_expr().alias("l"))
        .localCheckpoint(eager=False)
    )
    corpus_qv = _quantized(
        load_table(spark, sf_dir, "embeddings"), "vec_id"
    ).localCheckpoint(eager=False)

    def serve_batch(batch_df: DataFrame, batch_id: int) -> None:
        qset = _quantized(batch_df, "vec_id").select(
            F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
        )
        served = read_ledger(spark, out_dir, out_schema, batch_id)
        fresh = qset.join(
            served.select("query_id").distinct(), "query_id", "left_anti"
        )
        qids = fresh.select(F.col("query_id").alias("doc_id"))
        fused = _fused(
            _lex_arm_build(spark, sf_dir, qids, toks=toks),
            _sem_arm_build(spark, sf_dir, fresh, qv=corpus_qv),
        )
        write_ledger(
            fused.select(
                "query_id", "doc_id", "r_lex", "r_sem", "rrf_nano",
                "fused_rank",
            ),
            out_dir,
            batch_id,
        )

    run_per_file(spark, src_dir, SCHEMAS["embeddings"], checkpoint_dir, serve_batch)
    return _read_batches(spark, out_dir, out_schema)


def stream_scene_cuts_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> DataFrame:
    """Streaming video scene-cut detection (R24): document batches
    arrive, their video assets are segmented per micro-batch
    (queries/video.scenes_from_docs — scene detection reads only the
    asset's own bytes, so any row subset computes independently), and
    scene rows land in a batch-partitioned table. Replay safety is
    the r19/r21/r23 no-ledger construction: per-asset results are
    batch-independent by definition, the sink overwrites its own
    ``batch=<id>`` partition, and a re-delivered file contributes
    zero via the already-served skip on asset_id."""
    from etl_mp_transactions_spark.queries.video import scenes_from_docs

    out_schema = (
        "asset_id long, scene_id long, start_frame long,"
        " n_frames long, intra_max_diff long"
    )

    def serve_batch(batch_df: DataFrame, batch_id: int) -> None:
        served = read_ledger(spark, out_dir, out_schema, batch_id)
        fresh = batch_df.join(
            served.select(F.col("asset_id").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        )
        sc = scenes_from_docs(fresh)
        out = sc.groupBy("asset_id", "scene_id").agg(
            F.min("frame_idx").cast("long").alias("start_frame"),
            F.count("*").cast("long").alias("n_frames"),
            F.coalesce(
                F.max(
                    F.when(F.col("cut") == 1, None).otherwise(
                        F.col("diff")
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("intra_max_diff"),
        )
        write_ledger(out, out_dir, batch_id)

    run_per_file(spark, src_dir, SCHEMAS["documents"], checkpoint_dir, serve_batch)
    return _read_batches(spark, out_dir, out_schema)


def stream_graph_insert_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    base_emb: DataFrame,
    books,
) -> DataFrame:
    """Streaming IVF-graph maintenance (R25): arriving embedding
    batches maintain the IVF-seeded kNN graph against FROZEN coarse
    books (queries/graphann.py) — the online twin of the batch
    ``graph_ann_incremental_insert`` identity, and the maintenance
    loop a deployed graph index actually runs.

    State layout makes the stream==batch identity EXACT and the
    replay story ledger-free: the graph is stored as per-batch
    IMMUTABLE top-8 edge FRAGMENTS, never mutated in place —
    batch b writes (a) the new nodes' top-8 over everything seen so
    far including the batch itself, and (b) every existing node's
    top-8 AMONG THIS BATCH's members of its probed lists (≤ deg rows
    per node per batch, bucket-bounded work). Since the global top-8
    of a union equals the top-8 of the per-part top-8s, the final
    per-src re-rank over base fragment ∪ all batch fragments is
    EXACTLY the frozen-books rebuild over the full corpus — the same
    DuckDB oracle as the batch query. Replay safety: per-batch
    partition overwrite for both members and edges, and an
    at-least-once re-delivered file contributes zero via the
    already-a-member anti-join (the r17/r19 no-ledger construction).
    """
    from pyspark.sql import Window

    from etl_mp_transactions_spark.queries.graphann import (
        _DEG,
        _GANN_NPROBE,
        _probes_df,
        ivf_knn_topk,
    )

    edges_dir = os.path.join(state_dir, "edges")
    members_dir = os.path.join(state_dir, "members")
    os.makedirs(edges_dir, exist_ok=True)
    os.makedirs(members_dir, exist_ok=True)
    emb_schema = "vec_id long, embedding array<float>, label int"
    edge_schema = "src long, dst long, d2 long"
    # The coarse books are FROZEN for the run, so every slice's list
    # assignment is batch-invariant: assign the base slice ONCE per
    # run and each arriving batch once on arrival (per-run state that
    # dies with the run — not a cross-query store), instead of
    # re-scanning and re-assigning the whole seen corpus on both
    # sides of every micro-batch's two builds.
    base_probes = _probes_df(
        base_emb, books, _GANN_NPROBE
    ).localCheckpoint(eager=False)
    batch_probes: dict[int, DataFrame] = {}
    restored: DataFrame | None = None

    def _probes_union(batch_id: int, prior: DataFrame) -> DataFrame:
        # A restart from the checkpoint finds member batches that an
        # earlier run committed on disk but not in batch_probes. At a
        # run's first batch ``prior`` is exactly those batches (empty
        # on a fresh state dir): assign them once, so later batches
        # probe the same corpus an uninterrupted run would.
        nonlocal restored
        if restored is None:
            restored = _probes_df(
                prior, books, _GANN_NPROBE
            ).localCheckpoint(eager=False)
        out = base_probes.unionByName(restored)
        for b in sorted(batch_probes):
            if b != batch_id:
                out = out.unionByName(batch_probes[b])
        return out

    # base fragment: the frozen-books self-build over the base slice
    # (fresh per call — no cross-query graph memo, VERDICT r15 #2)
    write_ledger(
        ivf_knn_topk(base_emb, base_emb, books, q_probes=base_probes).drop("rnk"),
        edges_dir,
        "base",
    )

    def maintain(batch_df: DataFrame, batch_id: int) -> None:
        prior = read_ledger(spark, members_dir, emb_schema, batch_id)
        fresh = batch_df.select(
            "vec_id", "embedding", "label"
        ).join(prior.select("vec_id"), "vec_id", "left_anti")
        fresh = spark.read.schema(emb_schema).parquet(
            write_ledger(fresh, members_dir, batch_id)
        )
        # assign this batch's survivors once; on foreachBatch
        # re-execution the entry is recomputed from the rewritten
        # state file, mirroring the ledger read's idempotence
        fresh_probes = _probes_df(
            fresh, books, _GANN_NPROBE
        ).localCheckpoint(eager=False)
        prior_probes = _probes_union(batch_id, prior)
        batch_probes[batch_id] = fresh_probes
        existing = base_emb.select(
            "vec_id", "embedding", "label"
        ).unionByName(prior)
        corpus_now = existing.unionByName(fresh)
        frag = ivf_knn_topk(
            fresh,
            corpus_now,
            books,
            q_probes=fresh_probes,
            m_probes=prior_probes.unionByName(fresh_probes),
        ).unionByName(
            ivf_knn_topk(
                existing,
                fresh,
                books,
                q_probes=prior_probes,
                m_probes=fresh_probes,
            )
        )
        write_ledger(frag.drop("rnk"), edges_dir, batch_id)

    run_per_file(spark, src_dir, SCHEMAS["embeddings"], checkpoint_dir, maintain)
    frags = _read_batches(spark, edges_dir, edge_schema)
    w = Window.partitionBy("src").orderBy("d2", "dst")
    return (
        frags.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _DEG)
        .select("src", "dst", "rnk")
    )


def stream_graph_delete_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    emb: DataFrame,
    books,
) -> DataFrame:
    """Streaming graph-index DELETE maintenance (R26, 21st
    stream==batch pin): tombstone batches repair the IVF-seeded kNN
    graph against FROZEN coarse books — the online twin of the batch
    ``graph_ann_delete_repair`` identity (queries/graphann.py).

    State = two per-batch partition-overwritten stores, no ledger:
    (a) tombstones (set union — idempotent by nature, the r22
    construction: a replayed file's ids anti-join to nothing), and
    (b) repair FRAGMENTS: batch b writes the full post-repair top-8
    rows for exactly the nodes whose CURRENT edges hit this batch's
    NEW tombstones, computed against the survivors-so-far. The
    current view is latest-fragment-per-src over base ∪ fragments
    minus tombstoned srcs; by the batch query's pass-through argument
    (an unaffected node's candidates only shrank and its whole top-8
    survived), the view after every batch equals the frozen-books
    rebuild over the survivors — inductively, so the FINAL view
    equals batch ``graph_ann_delete_repair`` bit for bit: the same
    DuckDB oracle. Replay safety falls out: a re-delivered file's
    tombstones are already recorded, so its new-tombstone set is
    empty, no node is affected, and its fragment is empty."""
    from pyspark.sql import Window

    from etl_mp_transactions_spark.queries.graphann import (
        _DEG,
        _GANN_NPROBE,
        _probes_df,
        ivf_knn_topk,
    )

    tombs_dir = os.path.join(state_dir, "tombs")
    frags_dir = os.path.join(state_dir, "frags")
    os.makedirs(tombs_dir, exist_ok=True)
    os.makedirs(frags_dir, exist_ok=True)
    id_schema = "vec_id long"
    frag_schema = "src long, dst long, d2 long, bid long"
    emb = emb.localCheckpoint(eager=True)
    # frozen books ⇒ the full-corpus list assignment is run-invariant
    # and tombstoning only SHRINKS it: assign once per run, and each
    # batch's survivor/affected probe frames are anti-/semi-joins on
    # this frame instead of full re-scan+re-assign passes per batch
    corpus_probes = _probes_df(
        emb, books, _GANN_NPROBE
    ).localCheckpoint(eager=False)
    base = ivf_knn_topk(emb, emb, books, q_probes=corpus_probes).select(
        "src", "dst", "d2", F.lit(-1).cast("long").alias("bid")
    )
    write_ledger(base, frags_dir, "base")

    def _view(frags: DataFrame, tombs: DataFrame) -> DataFrame:
        # latest fragment per src, minus tombstoned srcs AND dsts.
        # The dst filter matters for the empty-repair edge case: an
        # affected node with NO surviving candidates writes an empty
        # fragment, so latest-per-src falls back to its older rows —
        # but all of those are tombstoned dsts (a surviving old edge
        # is always still a candidate), so the dst anti-join removes
        # exactly them and the view stays == rebuild.
        wl = Window.partitionBy("src").orderBy(F.col("bid").desc())
        return (
            frags.withColumn("mb", F.max("bid").over(wl))
            .filter(F.col("bid") == F.col("mb"))
            .join(
                tombs.withColumnRenamed("vec_id", "src"),
                "src",
                "left_anti",
            )
            .join(
                tombs.withColumnRenamed("vec_id", "dst"),
                "dst",
                "left_anti",
            )
            .select("src", "dst", "d2")
        )

    def maintain(batch_df: DataFrame, batch_id: int) -> None:
        prior_tombs = read_ledger(spark, tombs_dir, id_schema, batch_id)
        fresh = batch_df.select("vec_id").join(
            prior_tombs, "vec_id", "left_anti"
        )
        fresh = spark.read.schema(id_schema).parquet(
            write_ledger(fresh, tombs_dir, batch_id)
        )
        all_tombs = prior_tombs.unionByName(fresh)
        # affected detection reads the view BEFORE this batch's
        # tombstones take effect — the all-tombs view would have
        # already dst-filtered away exactly the edges that prove a
        # node needs repair. Srcs tombstoned in this batch are
        # excluded (they leave the graph, no repair). Fragments from
        # a prior FAILED attempt of this same batch id are excluded
        # too: after a crash between the fragment write and the
        # checkpoint commit, reading the already-repaired fragment
        # would mask the pre-batch edges, detection would find
        # nothing, and the repair would be overwritten EMPTY —
        # silently losing edges.
        view = _view(
            read_ledger(spark, frags_dir, frag_schema, batch_id),
            prior_tombs,
        )
        affected = (
            view.join(
                fresh.withColumnRenamed("vec_id", "dst"), "dst"
            )
            .select("src")
            .distinct()
            .join(
                fresh.withColumnRenamed("vec_id", "src"),
                "src",
                "left_anti",
            )
        )
        survivors = emb.join(all_tombs, "vec_id", "left_anti")
        aff_emb = survivors.join(
            affected.withColumnRenamed("src", "vec_id"),
            "vec_id",
            "semi",
        )
        surv_probes = corpus_probes.join(
            all_tombs, "vec_id", "left_anti"
        )
        aff_probes = surv_probes.join(
            affected.withColumnRenamed("src", "vec_id"),
            "vec_id",
            "semi",
        )
        frag = ivf_knn_topk(
            aff_emb,
            survivors,
            books,
            q_probes=aff_probes,
            m_probes=surv_probes,
        ).select(
            "src",
            "dst",
            "d2",
            F.lit(batch_id).cast("long").alias("bid"),
        )
        write_ledger(frag, frags_dir, batch_id)

    run_per_file(spark, src_dir, id_schema, checkpoint_dir, maintain)
    final = _view(
        read_ledger(spark, frags_dir, frag_schema),
        read_ledger(spark, tombs_dir, id_schema),
    )
    w = Window.partitionBy("src").orderBy("d2", "dst")
    return final.withColumn(
        "rnk", F.row_number().over(w).cast("long")
    ).select("src", "dst", "d2", "rnk")

"""Custom stateful streaming operators via applyInPandasWithState
(SURVEY.md §2.7-§2.8: the engine's mechanism for state the built-ins
don't cover — the generalization of the reference's Redis counters).

Two operators:

- ``running_user_totals``: per-key running (count, sum) emitted once
  per key per micro-batch — the streaming analog of a continuously-
  maintained aggregate table. State is two numbers per key, partitioned
  across the cluster's state store; at 100 TB of events the state size
  is O(distinct keys), not O(events).

- ``stateful_dedup``: R1 exactly-once as *explicit* state (a seen-flag
  per key) instead of dropDuplicates — demonstrating the custom path so
  richer policies (TTL'd keys, first-N-wins, value-conditional
  acceptance) are a one-line change. GroupStateTimeout can bound state
  exactly where dropDuplicatesWithinWatermark would.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from etl_mp_transactions_spark.streaming.filesource import _drain


def running_user_totals(stream: DataFrame) -> DataFrame:
    """events stream → one (user_id, n_events, total_value) row per
    user per micro-batch, accumulating across batches."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_dedup(
    stream: DataFrame,
    key: str = "event_id",
    output_cols: list[str] | None = None,
) -> DataFrame:
    """Exactly-once first-wins dedup with an explicit per-key seen
    flag (the Redis ``processed_checksums`` set re-expressed as
    partitioned state, src/redis_tools.py:38-54). Works on any frame:
    the output schema is derived from `output_cols` (default: every
    column of the stream), so e.g. ``stateful_dedup(silver, key=
    "checksum")`` dedups the silver stream."""
    cols = output_cols or stream.columns
    out_schema = stream.select(*cols).schema

    def keep_first(
        k: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            return  # key already processed in an earlier batch
        first = None
        for pdf in pdfs:
            if first is None and len(pdf):
                first = pdf.iloc[[0]][cols]
        state.update((True,))
        if first is not None:
            yield first

    return stream.groupBy(key).applyInPandasWithState(
        keep_first,
        outputStructType=out_schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful(
    stream_df: DataFrame,
    op,
    checkpoint_dir: str,
    out_dir: str,
    output_mode: str = "append",
) -> None:
    """Execute a stateful operator with AvailableNow + parquet output
    (checkpoint-recoverable). Update-mode streams go through
    foreachBatch — the file sink only accepts append, so updated rows
    land as an appended changelog (R5's sink-batching point)."""
    writer = op(stream_df).writeStream.outputMode(output_mode)
    if output_mode == "update":
        writer = writer.foreachBatch(
            lambda batch, _id: batch.write.mode("append").parquet(out_dir)
        )
    else:
        writer = writer.format("parquet").option("path", out_dir)
    _drain(writer, checkpoint_dir)


def running_user_totals_cents(stream: DataFrame) -> DataFrame:
    """Oracle-exact variant of running_user_totals: the value
    accumulates as integer CENTS (per-element round then int sum —
    order-free), so cross-batch accumulation is bit-exact and the
    registry entry (r13) can carry a full batch oracle rather than a
    rows-only check. State per key is two integers."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_cents": [cents],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_cents long",
        stateStructType="n long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def typed_stats_transform_with_state(stream: DataFrame) -> DataFrame:
    """Per-event-type running (count, total, min, max) in exact
    integer cents via ``transformWithStateInPandas`` — Spark 4's
    arbitrary-state API v2 (SPARK-49564, public). Functionally the
    successor of applyInPandasWithState (running_user_totals above):
    state is a typed ValueState handle resolved in ``init``, rows
    arrive as Arrow batches per key, and every emission carries the
    full accumulated stats so update-mode consumers always see a
    consistent row.

    ENV-GATED, stated honestly (the image-decode-stub policy): the
    v2 API's Python state client speaks protobuf to the JVM, and this
    container ships no ``google.protobuf`` (pip is unavailable), so
    the operator cannot run here — tests skip on the missing import,
    and the registry keeps r13's applyInPandasWithState as the
    oracle-gated custom-state entry. On a normal cluster (protobuf is
    a stock Spark dependency) this runs as written: set
    ``spark.sql.streaming.stateStore.providerClass`` to the RocksDB
    provider (required by v2). All four accumulators are
    order-free over integer cents, so the final emission per key
    equals the batch aggregate exactly regardless of file→micro-batch
    assignment."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TypeStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._stats = handle.getValueState(
                "stats", "n long, total long, mn long, mx long"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._stats.exists():
                n, total, mn, mx = self._stats.get()
            else:
                n, total, mn, mx = 0, 0, None, None
            for pdf in rows:
                if not len(pdf):
                    continue
                cents = (pdf["value"] * 100).round().astype("int64")
                n += len(pdf)
                total += int(cents.sum())
                bmn, bmx = int(cents.min()), int(cents.max())
                mn = bmn if mn is None else min(mn, bmn)
                mx = bmx if mx is None else max(mx, bmx)
            if n == 0:
                # every Arrow batch for this key was empty: nothing to
                # add, and mn/mx are still None — writing None into the
                # long-typed ValueState would fail on a real cluster
                return
            self._stats.update((n, total, mn, mx))
            yield pd.DataFrame(
                {
                    "event_type": [key[0]],
                    "n_events": [n],
                    "total_cents": [total],
                    "min_cents": [mn],
                    "max_cents": [mx],
                }
            )

        def close(self) -> None:
            pass

    return stream.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=TypeStats(),
        outputStructType=(
            "event_type string, n_events long, total_cents long,"
            " min_cents long, max_cents long"
        ),
        outputMode="Update",
        timeMode="None",
    )
